"""Seeded generator of the reference's crime CSV (22 `crimeSchema` columns).

    python3 perfbench/gen_crime.py <seed> <rows> <out_dir>

Writes `crime-s<seed>-r<rows>.csv` with a header row, in the shape of the
reference's `create&Load.sql` source: Zipf-skewed `primary_type` (a few
empty, which read back as NULL), about 27% `arrest='True'`, string
booleans, zero-padded beat/district codes and a quoted `location`
"(lat, lon)" with an embedded comma. Next to it goes
`crime-s<seed>-r<rows>.expected.tsv`: the flagship aggregate
(`count(primary_type) ... WHERE arrest = 'False' GROUP BY primary_type`)
computed by DuckDB straight from the CSV, the oracle for the ETL check.
Both are cached per (seed, rows); the same seed gives the same bytes.
"""
import sys
from pathlib import Path

import duckdb
import numpy as np

TYPES = ["THEFT", "BATTERY", "CRIMINAL DAMAGE", "NARCOTICS", "ASSAULT",
         "OTHER OFFENSE", "BURGLARY", "MOTOR VEHICLE THEFT",
         "DECEPTIVE PRACTICE", "ROBBERY", "CRIMINAL TRESPASS", "WEAPONS VIOLATION",
         "PROSTITUTION", "PUBLIC PEACE VIOLATION", "OFFENSE INVOLVING CHILDREN",
         "CRIM SEXUAL ASSAULT", "SEX OFFENSE", "INTERFERENCE WITH PUBLIC OFFICER",
         "GAMBLING", "LIQUOR LAW VIOLATION", "ARSON", "HOMICIDE", "KIDNAPPING",
         "INTIMIDATION", "STALKING", "OBSCENITY", "CONCEALED CARRY LICENSE VIOLATION",
         "PUBLIC INDECENCY", "NON-CRIMINAL", "HUMAN TRAFFICKING", "RITUALISM"]
DESCRIPTIONS = ["SIMPLE", "$500 AND UNDER", "OVER $500", "TO VEHICLE",
                "DOMESTIC BATTERY SIMPLE", "POSS: CANNABIS 30GMS OR LESS",
                "TO PROPERTY", "FORCIBLE ENTRY", "AUTOMOBILE", "ARMED: HANDGUN",
                "FINANCIAL IDENTITY THEFT OVER $ 300", "TELEPHONE THREAT"]
PLACES = ["STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "OTHER",
          "PARKING LOT/GARAGE(NON.RESID.)", "ALLEY", "SMALL RETAIL STORE",
          "RESTAURANT", "SCHOOL, PUBLIC, BUILDING", "VEHICLE NON-COMMERCIAL"]
STREETS = ["MADISON ST", "STATE ST", "HALSTED ST", "ASHLAND AVE",
           "WESTERN AVE", "PULASKI RD", "CICERO AVE", "COTTAGE GROVE AVE",
           "79TH ST", "63RD ST", "LAKE SHORE DR", "MICHIGAN AVE"]
# values with a comma go out quoted, as a CSV export writes them
PLACES = [f'"{v}"' if "," in v else v for v in PLACES]
FBI = ["06", "08B", "14", "18", "08A", "26", "05", "07", "11", "03", "04B", "15"]
HEADER = ("id,case_number,date_value,block_value,iucr,primary_type,"
          "description_value,local_description,arrest,domestic,beat,"
          "district,ward,community_area,fbi_code,x_coordinate,"
          "y_coordinate,year,updated_on,latitude,longitude,location")


def _stamp(rng, n, years):
    mo = rng.integers(1, 13, n)
    dd = rng.integers(1, 29, n)
    hh = rng.integers(1, 13, n)
    mi = rng.integers(0, 60, n)
    ss = rng.integers(0, 60, n)
    ap = np.where(rng.random(n) < 0.5, "AM", "PM")
    return [f"{a:02d}/{b:02d}/{y} {h:02d}:{m:02d}:{s:02d} {p}"
            for a, b, y, h, m, s, p in zip(mo.tolist(), dd.tolist(), years,
                                            hh.tolist(), mi.tolist(),
                                            ss.tolist(), ap.tolist())]


def generate(seed: int, rows: int, path: Path) -> None:
    rng = np.random.default_rng(seed)
    n = rows
    ranks = np.arange(1, len(TYPES) + 1)
    p = 1.0 / ranks ** 1.1
    types = np.array(TYPES + [""])
    pt = rng.choice(len(TYPES), n, p=p / p.sum())
    pt[rng.random(n) < 0.002] = len(TYPES)  # a few empty types -> NULL
    years = rng.integers(2001, 2025, n).tolist()
    lat = np.round(rng.uniform(41.644, 42.023, n), 9)
    lon = np.round(rng.uniform(-87.934, -87.524, n), 9)
    cols = [
        (np.arange(n) + 10_000_000 + seed % 1000 * 1_000_000).tolist(),
        [f"J{chr(65 + a)}{b:06d}" for a, b in
         zip(rng.integers(0, 26, n).tolist(), rng.integers(0, 10**6, n).tolist())],
        _stamp(rng, n, years),
        [f"{a:03d}XX {d} {s}" for a, d, s in
         zip(rng.integers(0, 130, n).tolist(),
             np.array(["N", "S", "E", "W"])[rng.integers(0, 4, n)].tolist(),
             np.array(STREETS)[rng.integers(0, len(STREETS), n)].tolist())],
        [f"{v:04d}" for v in rng.integers(110, 5200, n).tolist()],
        types[pt].tolist(),
        np.array(DESCRIPTIONS)[rng.integers(0, len(DESCRIPTIONS), n)].tolist(),
        np.array(PLACES)[rng.integers(0, len(PLACES), n)].tolist(),
        np.where(rng.random(n) < 0.27, "True", "False").tolist(),
        np.where(rng.random(n) < 0.17, "True", "False").tolist(),
        [f"{v:04d}" for v in rng.integers(111, 2536, n).tolist()],
        [f"{v:03d}" for v in rng.integers(1, 26, n).tolist()],
        [str(v) if v else "" for v in rng.integers(0, 51, n).tolist()],
        [str(v) for v in rng.integers(1, 78, n).tolist()],
        np.array(FBI)[rng.integers(0, len(FBI), n)].tolist(),
        rng.integers(1_100_000, 1_205_000, n).tolist(),
        rng.integers(1_813_000, 1_952_000, n).tolist(),
        years,
        _stamp(rng, n, [2024] * n),
        [f"{v:.9f}" for v in lat.tolist()],
        [f"{v:.9f}" for v in lon.tolist()],
        [f'"({a:.9f}, {b:.9f})"' for a, b in zip(lat.tolist(), lon.tolist())],
    ]
    tmp = path.with_suffix(".part")
    with open(tmp, "w", newline="\n") as f:
        f.write(HEADER + "\n")
        f.writelines(",".join(map(str, r)) + "\n" for r in zip(*cols))
    tmp.replace(path)


def expected(csv: Path, out: Path) -> None:
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in HEADER.split(","))
    con = duckdb.connect()
    rows = con.execute(
        "SELECT primary_type, count(primary_type) FROM read_csv(?,"
        " header=true, delim=',', quote='\"', escape='\"', auto_detect=false,"
        f" columns={{{cols}}}) WHERE arrest = 'False'"
        " GROUP BY primary_type", [str(csv)]).fetchall()
    tmp = out.with_suffix(".part")
    tmp.write_text("".join(f"{'' if t is None else t}\t{t is None}\t{c}\n"
                           for t, c in sorted(rows, key=lambda r: str(r[0]))))
    tmp.replace(out)


def ensure(seed: int, rows: int, out_dir: Path, keep: int = 3):
    """Return (csv, expected_tsv), generating them unless cached."""
    out_dir.mkdir(parents=True, exist_ok=True)
    csv = out_dir / f"crime-s{seed}-r{rows}.csv"
    exp = out_dir / f"crime-s{seed}-r{rows}.expected.tsv"
    if not csv.is_file():
        generate(seed, rows, csv)
    if not exp.is_file():
        expected(csv, exp)
    # bound the cache: keep the newest `keep` inputs
    olds = sorted(out_dir.glob("crime-s*.csv"), key=lambda q: q.stat().st_mtime)
    for q in olds[:-keep]:
        if q != csv:
            q.unlink()
            q.with_suffix(".expected.tsv").unlink(missing_ok=True)
    return csv, exp


if __name__ == "__main__":
    print(*ensure(int(sys.argv[1]), int(sys.argv[2]), Path(sys.argv[3])))
