#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage: python3 tools/check_correctness.py <sfDir> <verifyOutDir>

For each query result parquet under <verifyOutDir>/<name>/, runs the
corresponding oracle SQL (from <verifyOutDir>/oracle_sql.json) in DuckDB
against the parquet tables in <sfDir>, sorts columns by name and rows by
value, and compares row counts, schemas (loosely) and value hashes.
Exits non-zero on any failure, and when the dump holds no query at all.
"""
import sys, json, glob, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    out = []
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                cells.append("NULL")
            elif isinstance(v, float):
                cells.append(f"{v:.6f}".rstrip("0").rstrip(".") or "0")
            elif isinstance(v, bool):
                cells.append(str(v).lower())
            else:
                cells.append(str(v))
        out.append("\x01".join(cells))
    out.sort()
    return hashlib.md5("\x02".join(out).encode()).hexdigest()


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    for name in sorted(oracle):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"{name:24s} MISSING spark result")
            failures += 1
            continue
        try:
            odf = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"{name:24s} ORACLE ERROR: {e}")
            failures += 1
            continue
        sdf = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"{name:24s} SCHEMA MISMATCH spark={scols} oracle={ocols}")
            failures += 1
            continue
        # Dtype parity: a DuckDB HUGEINT (int128) sum comes back from
        # fetchdf() as float64 while Spark's int64 stays int64; the value
        # canonicalizer may collapse the two, but the DRIVER's hasher does
        # not — so any pandas-dtype divergence is a failure here, loudly,
        # even when the value hashes happen to agree.
        dtype_mismatch = [
            (c, str(sdf[c].dtype), str(odf[c].dtype))
            for c in scols if str(sdf[c].dtype) != str(odf[c].dtype)]
        if dtype_mismatch:
            print(f"{name:24s} DTYPE MISMATCH {dtype_mismatch}")
            failures += 1
            continue
        srows, orows = len(sdf), len(odf)
        sh = canon(sdf[scols].itertuples(index=False, name=None))
        oh = canon(odf[ocols].itertuples(index=False, name=None))
        ok = srows == orows and sh == oh
        status = "OK" if ok else f"MISMATCH rows {srows}/{orows} hash {sh[:8]}/{oh[:8]}"
        if not ok:
            failures += 1
        print(f"{name:24s} {status}")
    skipped = [n for n in glob.glob(f"{out_dir}/*/") if
               n.rstrip('/').split('/')[-1] not in oracle]
    for n in sorted(skipped):
        print(f"{n.rstrip('/').split('/')[-1]:24s} (no oracle — rows-only)")
    if not oracle:
        # an empty dump (e.g. a mistyped Verify prefix filter) proves nothing
        print("NO QUERY COMPARED: oracle_sql.json is empty")
        sys.exit(1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
