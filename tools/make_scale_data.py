"""Synthesize a larger benchmark scale factor from the driver testdata.

The container ships no parquet above sf0.1, which caps scaling evidence
at one decade (sf0.01 -> sf0.1). This tool manufactures sfK x 0.1 by
REPLICATING sf0.1 K times with key shifting, so cardinalities scale the
way a real dataset's would (every fact and every entity id space grows
Kx; dimension tables region/nation stay fixed, as TPC-H dims do):

- customer/supplier/part/orders/lineitem/events: every synthetic key
  column shifts by replica * (max_key + 1); FK columns shift by the SAME
  offsets as their parents, so join selectivity and fan-out per key are
  IDENTICAL to the source at every replica (a join that matched m rows
  per key at sf0.1 still matches m — only the number of keys grows).
- documents: doc_id shifts; for replica i > 0 every token gets an
  'r{i}' prefix, so text statistics keep their shape but replicas share
  NO shingles — the near-dup rate stays constant per corpus unit instead
  of growing quadratically (which naive text copying would cause, and
  which would make dedup benchmarks measure an artifact).
- embeddings: vec_id shifts; the vector is ROTATED by i positions
  (norms and pairwise-distance distribution preserved; replicas are not
  mutual near-neighbours, keeping ANN candidate counts linear).

This is BENCH data only: correctness is proven by the DuckDB oracle at
sf0.01; this data exists to measure wall-clock scaling one more decade.

Usage: python tools/make_scale_data.py [K] [src_dir] [out_dir]
       defaults: K=10, src=the sf0.1 test tables, out=<repo>/scaledata/sf1
"""

from __future__ import annotations

import os
import sys

import duckdb


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[3] if len(sys.argv) > 3 else os.path.join(root, "scaledata", "sf1")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    tables = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")

    off = {
        name: con.sql(f"SELECT MAX({col}) + 1 FROM {tbl}").fetchone()[0]
        for name, (tbl, col) in {
            "cust": ("customer", "c_custkey"),
            "supp": ("supplier", "s_suppkey"),
            "part": ("part", "p_partkey"),
            "ord": ("orders", "o_orderkey"),
            "ev": ("events", "event_id"),
            "user": ("events", "user_id"),
            "doc": ("documents", "doc_id"),
            "vec": ("embeddings", "vec_id"),
        }.items()
    }
    con.sql(f"CREATE TABLE reps AS SELECT unnest(range({k})) AS i")

    plans = {
        "region": "SELECT * FROM region",
        "nation": "SELECT * FROM nation",
        "customer": f"""
            SELECT c_custkey + i * {off['cust']} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer CROSS JOIN reps""",
        "supplier": f"""
            SELECT s_suppkey + i * {off['supp']} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
            FROM supplier CROSS JOIN reps""",
        "part": f"""
            SELECT p_partkey + i * {off['part']} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM part CROSS JOIN reps""",
        "orders": f"""
            SELECT o_orderkey + i * {off['ord']} AS o_orderkey,
                   o_custkey + i * {off['cust']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders CROSS JOIN reps""",
        "lineitem": f"""
            SELECT l_orderkey + i * {off['ord']} AS l_orderkey,
                   l_partkey + i * {off['part']} AS l_partkey,
                   l_suppkey + i * {off['supp']} AS l_suppkey,
                   * EXCLUDE (l_orderkey, l_partkey, l_suppkey, i)
            FROM lineitem CROSS JOIN reps""",
        "events": f"""
            SELECT event_id + i * {off['ev']} AS event_id, ts,
                   user_id + i * {off['user']} AS user_id,
                   event_type, value, props
            FROM events CROSS JOIN reps""",
        "documents": f"""
            SELECT doc_id + i * {off['doc']} AS doc_id,
                   CASE WHEN i = 0 THEN text
                        ELSE regexp_replace(text, '(\\S+)', 'r' || i || '\\1', 'g')
                   END AS text,
                   lang, source,
                   CAST(length(CASE WHEN i = 0 THEN text
                        ELSE regexp_replace(text, '(\\S+)', 'r' || i || '\\1', 'g')
                   END) AS BIGINT) AS n_chars
            FROM documents CROSS JOIN reps""",
        "embeddings": f"""
            SELECT vec_id + i * {off['vec']} AS vec_id,
                   CASE WHEN i = 0 THEN embedding
                        ELSE list_concat(embedding[i + 1:], embedding[1:i])
                   END AS embedding,
                   label
            FROM embeddings CROSS JOIN reps""",
    }
    for t, sql in plans.items():
        con.sql(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/{t}.parquet')").fetchone()[0]
        print(f"{t:12s} {n:>12,d} rows -> {out}/{t}.parquet")


if __name__ == "__main__":
    main()
