"""Row-level Spark-vs-DuckDB diff for one query: prints the first differing
sorted normalized line plus a context window around it, so a driver-gate hash
mismatch is diagnosable from the raw rows (VERDICT r04 item 1).

Usage:
    python tools/diff_oracle.py <query> [--context N] [--sf-dir PATH]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from geowave_spark.queries import value_hash  # noqa: E402
from tools.check_oracle import SF_DIR  # noqa: E402


def _norm(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def main() -> int:
    import duckdb

    from geowave_spark.datagen import ensure_geo_tables
    from geowave_spark.queries import ALL_QUERIES, build_oracles
    from geowave_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    ctx = 3
    sf_dir = SF_DIR
    for i, a in enumerate(sys.argv[1:], 1):
        if a == "--context":
            ctx = int(sys.argv[i + 1])
        if a == "--sf-dir":
            sf_dir = sys.argv[i + 1]
    if len(args) != 1 or args[0] not in ALL_QUERIES:
        print(f"usage: diff_oracle.py <query>; known: {sorted(ALL_QUERIES)}")
        return 2

    name = args[0]
    ensure_geo_tables(Path(sf_dir).name)
    oracles = build_oracles()
    spark = get_spark("diff-oracle", master="local[8]", shuffle_partitions=8)
    sdf = ALL_QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    spark.stop()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(oracles[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    if sorted(scols) != sorted(ocols):
        print(f"SCHEMA  spark={sorted(scols)}  oracle={sorted(ocols)}")
        return 1
    cols = sorted(scols)
    s_order = [scols.index(c) for c in cols]
    o_order = [ocols.index(c) for c in cols]
    h1 = value_hash(srows, s_order)
    h2 = value_hash(orows, o_order)
    print(f"rows: spark={len(srows)} oracle={len(orows)}  hash: {h1} vs {h2}")
    if h1 == h2 and len(srows) == len(orows):
        print("MATCH")
        return 0

    slines = sorted("\x1f".join(_norm(r[i]) for i in s_order) for r in srows)
    olines = sorted("\x1f".join(_norm(r[i]) for i in o_order) for r in orows)
    print(f"columns (sorted): {cols}")
    n = max(len(slines), len(olines))
    first = None
    for i in range(n):
        a = slines[i] if i < len(slines) else "<absent>"
        b = olines[i] if i < len(olines) else "<absent>"
        if a != b:
            first = i
            break
    if first is None:
        print("no differing sorted line (hash normalization mismatch?)")
        return 1
    print(f"first differing sorted line: index {first}")
    for i in range(max(0, first - ctx), min(n, first + ctx + 1)):
        a = slines[i] if i < len(slines) else "<absent>"
        b = olines[i] if i < len(olines) else "<absent>"
        mark = "  " if a == b else "->"
        print(f"{mark} [{i}] spark : {a.replace(chr(31), ' | ')}")
        if a != b:
            print(f"{mark} [{i}] oracle: {b.replace(chr(31), ' | ')}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
