package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Nested (STRUCT) column support for the DML catalog — the FLATTENED
  * LEAF encoding: a struct column never reaches the parquet writer as
  * a group; its leaves become independent top-level primitive columns
  * named by dotted path ("s.f", recursively "s.t.g"), preceded by an
  * INT32 PRESENCE marker under the struct's own name ("s" = 1 when
  * the struct value is non-null) so `NULL` and "struct of all NULLs"
  * stay distinguishable.
  *
  * Why flatten instead of writing real parquet groups: every layer
  * between the write and read boundaries — positional/equality delta
  * records, zone maps, blooms, NDV sketches, the change-feed multiset
  * diff, OPTIMIZE's rewrite — operates on flat primitive
  * externalized values. Flattening at the two boundaries means all
  * of that machinery (and its specs) applies to nested data
  * unchanged, and field-level evolution rides the SAME name-mapping
  * the top-level columns use: ADD/RENAME/DROP of "s.f" is an entry in
  * the dropped list / renames map keyed by the dotted display path.
  * Iceberg reaches the same property through field ids; dotted
  * storage names are this catalog's id-free equivalent (names may
  * not contain '.', enforced when the metadata is rendered).
  *
  * The dotted names are purely internal: Spark sees real StructType
  * columns in every schema surface (CREATE, DESCRIBE, time travel's
  * pinned schemas round-trip nested JSON as-is). */
object RowNested {

  /** Flattened leaf fields of a (possibly struct-bearing) field list,
    * DISPLAY names. Identity for primitive-only schemas. */
  def flatLeaves(fields: Seq[StructField]): Seq[StructField] =
    fields.flatMap {
      case StructField(n, st: StructType, _, _) =>
        StructField(n, IntegerType, nullable = true) +:
          flatLeaves(st.fields.toSeq).map(l => l.copy(name = s"$n.${l.name}"))
      case f => Seq(f)
    }

  /** Number of flat slots field `f` occupies. */
  def leafCount(f: StructField): Int = f.dataType match {
    case st: StructType => 1 + st.fields.map(leafCount).sum
    case _ => 1
  }

  private def extPrim(dt: DataType, row: InternalRow, i: Int): Any =
    dt match {
      case LongType      => Long.box(row.getLong(i))
      case TimestampType => Long.box(row.getLong(i))
      case IntegerType   => Int.box(row.getInt(i))
      // canonical long forms (what zone maps and blooms hash):
      // date = epoch-day int, decimal = unscaled long at the
      // column's declared scale
      case DateType      => Int.box(row.getInt(i))
      case d: DecimalType =>
        Long.box(row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case StringType    => row.getUTF8String(i).toString
      // STATLESS types (zone maps / blooms / NDV refuse them at
      // CREATE; files carrying them are simply never skipped):
      // doubles/floats ride as their boxed selves (bit-exact through
      // the parquet DOUBLE/FLOAT physical types), binary verbatim,
      // and ARRAY columns as ONE length-prefixed binary blob ([[Arr]])
      // so every layer between the write and read boundaries — delta
      // records, the change-feed multiset diff, OPTIMIZE's rewrite —
      // still sees a flat scalar per column
      case DoubleType    => Double.box(row.getDouble(i))
      case FloatType     => Float.box(row.getFloat(i))
      case BinaryType    => row.getBinary(i)
      case at: ArrayType => Arr.enc(at.elementType, row.getArray(i))
      case mt: MapType   =>
        Mp.enc(mt.keyType, mt.valueType, row.getMap(i))
      case other         => sys.error(s"unsupported type $other")
    }

  private val One = Int.box(1)

  /** Fill `out` from field `i` of `row` starting at flat slot `off`;
    * returns the next free slot. A null struct (or null `row` — a
    * delta DELETE record's payload) leaves its slots at the array's
    * null default. */
  private def fillField(out: Array[Any], off: Int, f: StructField,
      i: Int, row: InternalRow): Int = f.dataType match {
    case st: StructType =>
      if (row == null || row.isNullAt(i)) off + leafCount(f)
      else {
        out(off) = One // presence marker
        var o = off + 1
        val sub = row.getStruct(i, st.fields.length)
        var j = 0
        while (j < st.fields.length) {
          o = fillField(out, o, st.fields(j), j, sub)
          j += 1
        }
        o
      }
    case dt =>
      out(off) =
        if (row == null || row.isNullAt(i)) null else extPrim(dt, row, i)
      off + 1
  }

  /** Precompiled per-row externalizer: one flat Array[Any] per row,
    * no intermediate collections — this sits on every DML write's
    * per-row path, so the hot primitive-only case must cost what the
    * pre-nested inline loop did. */
  def externalizer(fields: Seq[StructField]): InternalRow => Array[Any] = {
    val fieldArr = fields.toArray
    val total = fields.map(leafCount).sum
    row => {
      val out = new Array[Any](total)
      var off = 0
      var i = 0
      while (i < fieldArr.length) {
        off = fillField(out, off, fieldArr(i), i, row)
        i += 1
      }
      out
    }
  }

  /** Resolve a dotted display path against the REAL (nested) schema —
    * the guard-side complement of [[flatLeaves]]: the flat list
    * contains a struct's presence MARKER under the struct's own name
    * (typed INT32), so any validation that must distinguish "a
    * primitive leaf" from "a struct column's marker" resolves here
    * instead. None = no such path. */
  def resolve(fields: Seq[StructField], path: String): Option[DataType] =
    path.split('.').toSeq
      .foldLeft[Option[DataType]](Some(StructType(fields.toArray))) {
        case (Some(st: StructType), n) =>
          st.fields.find(_.name == n).map(_.dataType)
        case _ => None
      }

  private def intPrim(dt: DataType, v: Any): Any = v match {
    case null      => null
    case s: String => UTF8String.fromString(s)
    // decimals ride the files as unscaled longs — rebuild the
    // internal Decimal at the column's declared scale
    case l: java.lang.Long if dt.isInstanceOf[DecimalType] =>
      val d = dt.asInstanceOf[DecimalType]
      Decimal(l.longValue, d.precision, d.scale)
    // an ARRAY/MAP column's blob decodes back to engine
    // ArrayData/MapData; a BinaryType column's bytes pass through
    // verbatim (Spark's internal binary form IS Array[Byte])
    case b: Array[Byte] if dt.isInstanceOf[ArrayType] =>
      Arr.dec(dt.asInstanceOf[ArrayType].elementType, b)
    case b: Array[Byte] if dt.isInstanceOf[MapType] =>
      val mt = dt.asInstanceOf[MapType]
      Mp.dec(mt.keyType, mt.valueType, b)
    case other     => other
  }

  /** Internalize the flat slots of display field `f` starting at
    * `off` back into the engine value (nested GenericInternalRow for
    * structs, converted primitive otherwise). */
  def internalize(f: StructField, flat: Array[Any], off: Int): Any =
    f.dataType match {
      case st: StructType =>
        // marker null/0 = the struct itself was null (files that
        // PREDATE an added struct column read all-null too)
        if (flat(off) == null) null
        else {
          var o = off + 1
          val vals = st.fields.map { sf =>
            val v = internalize(sf, flat, o)
            o += leafCount(sf)
            v
          }
          new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        }
      case dt => intPrim(dt, flat(off))
    }

  /** (display field → flat offset) for a wanted field list — what the
    * readers index [[internalize]] with. */
  def offsets(fields: Seq[StructField]): Map[String, Int] = {
    var o = 0
    fields.map { f =>
      val e = f.name -> o
      o += leafCount(f)
      e
    }.toMap
  }

  /** True if any field (at any depth) is a struct. */
  def hasStruct(fields: Seq[StructField]): Boolean =
    fields.exists(_.dataType.isInstanceOf[StructType])

  /** ARRAY-column blob codec: an ARRAY<prim> value externalizes to ONE
    * deterministic byte blob (stored as a parquet BINARY), so the whole
    * flat-scalar machinery — delta records, COW rewrites, the
    * change-feed multiset diff — handles array columns without knowing
    * they exist. Layout (big-endian): element-type tag byte, int32
    * length, a null bitmap (bit set = non-null), then the non-null
    * elements in order (fixed width for numerics; int32-length-prefixed
    * UTF-8 for strings). Deterministic by construction: equal arrays
    * encode to equal bytes (floats/doubles via raw IEEE bits), which is
    * what lets the change feed diff array rows by blob equality. */
  object Arr {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

    private def tag(et: DataType): Byte = et match {
      case FloatType   => 'F'
      case DoubleType  => 'D'
      case LongType    => 'L'
      case IntegerType => 'I'
      case StringType  => 'S'
      case other => sys.error(s"unsupported array element type $other")
    }

    def supportedElem(et: DataType): Boolean = et match {
      case FloatType | DoubleType | LongType | IntegerType | StringType =>
        true
      case _ => false
    }

    def enc(et: DataType, a: ArrayData): Array[Byte] = {
      val n = a.numElements()
      val bitmapLen = (n + 7) / 8
      // size the buffer exactly: fixed-width elements are cheap to
      // pre-measure; strings need one pass for byte lengths
      val strBytes: Array[Array[Byte]] =
        if (et == StringType) Array.tabulate(n)(j =>
          if (a.isNullAt(j)) null else a.getUTF8String(j).getBytes)
        else null
      val elemBytes = et match {
        case FloatType | IntegerType =>
          (0 until n).count(!a.isNullAt(_)) * 4
        case DoubleType | LongType =>
          (0 until n).count(!a.isNullAt(_)) * 8
        case StringType =>
          strBytes.iterator.filter(_ != null).map(_.length + 4).sum
        case other => sys.error(s"unsupported array element type $other")
      }
      val bb = java.nio.ByteBuffer.allocate(1 + 4 + bitmapLen + elemBytes)
      bb.put(tag(et)).putInt(n)
      val bmPos = bb.position()
      bb.position(bmPos + bitmapLen)
      var j = 0
      while (j < n) {
        if (!a.isNullAt(j)) {
          bb.array()(bmPos + (j >> 3)) =
            (bb.array()(bmPos + (j >> 3)) | (1 << (j & 7))).toByte
          et match {
            case FloatType   => bb.putFloat(a.getFloat(j))
            case DoubleType  => bb.putDouble(a.getDouble(j))
            case LongType    => bb.putLong(a.getLong(j))
            case IntegerType => bb.putInt(a.getInt(j))
            case StringType =>
              bb.putInt(strBytes(j).length).put(strBytes(j))
            case other => sys.error(s"unsupported element type $other")
          }
          ()
        }
        j += 1
      }
      bb.array()
    }

    def dec(et: DataType, bytes: Array[Byte]): ArrayData = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val t = bb.get()
      require(t == tag(et),
        s"array blob tag '${t.toChar}' does not match element type $et")
      val n = bb.getInt()
      val bitmapLen = (n + 7) / 8
      val bmPos = bb.position()
      bb.position(bmPos + bitmapLen)
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        if ((bytes(bmPos + (j >> 3)) & (1 << (j & 7))) != 0)
          out(j) = et match {
            case FloatType   => Float.box(bb.getFloat())
            case DoubleType  => Double.box(bb.getDouble())
            case LongType    => Long.box(bb.getLong())
            case IntegerType => Int.box(bb.getInt())
            case StringType =>
              val len = bb.getInt()
              val sb = new Array[Byte](len)
              bb.get(sb)
              UTF8String.fromBytes(sb)
            case other => sys.error(s"unsupported element type $other")
          }
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** MAP-column blob codec — the [[Arr]] discipline extended to
    * key/value pairs: a MAP<prim, prim> value externalizes to ONE
    * deterministic byte blob (stored as a parquet BINARY), so delta
    * records, COW rewrites, and the change-feed multiset diff handle
    * map columns as flat scalars. Statless like arrays.
    *
    * Determinism needs one extra step arrays don't: Spark's MapData
    * carries entries in INSERTION order, and two maps with the same
    * key→value set built in different orders must still encode to
    * equal bytes (the change feed diffs rows by blob equality), so
    * entries are CANONICALIZED — sorted by key (numeric order for
    * numeric keys, UTF-8 byte order for strings; map keys are never
    * null in Spark). Duplicate keys keep insertion order (stable
    * sort), matching `element_at`'s first-match lookup.
    *
    * Layout (big-endian): 'M', key tag, value tag, int32 n, then the
    * sorted entries — key bytes (fixed width for numerics,
    * int32-length-prefixed UTF-8 for strings), one value-presence
    * byte, value bytes if present. */
  object Mp {
    import org.apache.spark.sql.catalyst.util.{
      ArrayBasedMapData, GenericArrayData, MapData}

    private def tag(et: DataType): Byte = et match {
      case FloatType   => 'F'
      case DoubleType  => 'D'
      case LongType    => 'L'
      case IntegerType => 'I'
      case StringType  => 'S'
      case other => sys.error(s"unsupported map key/value type $other")
    }

    def supported(kt: DataType, vt: DataType): Boolean =
      Arr.supportedElem(kt) && Arr.supportedElem(vt)

    private def width(et: DataType): Int = et match {
      case FloatType | IntegerType => 4
      case _                       => 8 // strings sized separately
    }

    private def put(bb: java.nio.ByteBuffer, et: DataType, v: Any,
        sb: Array[Byte]): Unit = {
      et match {
        case FloatType   => bb.putFloat(v.asInstanceOf[Float])
        case DoubleType  => bb.putDouble(v.asInstanceOf[Double])
        case LongType    => bb.putLong(v.asInstanceOf[Long])
        case IntegerType => bb.putInt(v.asInstanceOf[Int])
        case StringType  => bb.putInt(sb.length).put(sb)
        case other => sys.error(s"unsupported map key/value type $other")
      }
      ()
    }

    def enc(kt: DataType, vt: DataType, m: MapData): Array[Byte] = {
      val n = m.numElements()
      val ks = m.keyArray()
      val vs = m.valueArray()
      // canonical key order: stable sort of entry indices
      val idx = Array.range(0, n)
      val ord: Ordering[Int] = kt match {
        case LongType    => Ordering.by(ks.getLong)
        case IntegerType => Ordering.by(ks.getInt)
        case FloatType   => Ordering.by(ks.getFloat)
        case DoubleType  => Ordering.by(ks.getDouble)
        case StringType  =>
          Ordering.fromLessThan((a, b) =>
            ks.getUTF8String(a).compareTo(ks.getUTF8String(b)) < 0)
        case other => sys.error(s"unsupported map key type $other")
      }
      scala.util.Sorting.stableSort(idx)(ord)
      val kStr: Array[Array[Byte]] =
        if (kt == StringType)
          Array.tabulate(n)(j => ks.getUTF8String(j).getBytes)
        else null
      val vStr: Array[Array[Byte]] =
        if (vt == StringType)
          Array.tabulate(n)(j =>
            if (vs.isNullAt(j)) null else vs.getUTF8String(j).getBytes)
        else null
      val kBytes =
        if (kt == StringType) kStr.iterator.map(_.length + 4).sum
        else n * width(kt)
      val vBytes = vt match {
        case StringType =>
          vStr.iterator.filter(_ != null).map(_.length + 4).sum
        case et => (0 until n).count(!vs.isNullAt(_)) * width(et)
      }
      val bb = java.nio.ByteBuffer.allocate(3 + 4 + kBytes + n + vBytes)
      bb.put('M'.toByte).put(tag(kt)).put(tag(vt)).putInt(n)
      idx.foreach { j =>
        put(bb, kt, ks.get(j, kt), if (kStr == null) null else kStr(j))
        if (vs.isNullAt(j)) bb.put(0: Byte)
        else {
          bb.put(1: Byte)
          put(bb, vt, vs.get(j, vt), if (vStr == null) null else vStr(j))
        }
      }
      bb.array()
    }

    private def get(bb: java.nio.ByteBuffer, et: DataType): Any =
      et match {
        case FloatType   => Float.box(bb.getFloat())
        case DoubleType  => Double.box(bb.getDouble())
        case LongType    => Long.box(bb.getLong())
        case IntegerType => Int.box(bb.getInt())
        case StringType  =>
          val len = bb.getInt()
          val sb = new Array[Byte](len)
          bb.get(sb)
          UTF8String.fromBytes(sb)
        case other => sys.error(s"unsupported map key/value type $other")
      }

    def dec(kt: DataType, vt: DataType, bytes: Array[Byte]): MapData = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val (t, k, v) = (bb.get(), bb.get(), bb.get())
      require(t == 'M'.toByte && k == tag(kt) && v == tag(vt),
        s"map blob tags '${t.toChar}${k.toChar}${v.toChar}' do not " +
          s"match MAP<$kt, $vt>")
      val n = bb.getInt()
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        keys(j) = get(bb, kt)
        if (bb.get() == (1: Byte)) vals(j) = get(bb, vt)
        j += 1
      }
      new ArrayBasedMapData(
        new GenericArrayData(keys), new GenericArrayData(vals))
    }
  }
}
