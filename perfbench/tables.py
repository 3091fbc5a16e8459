"""Seeded TPC-H-ish tables for the catalog workloads.

``generate`` writes any of the ten tables the catalog keys read (``region
nation customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the column names, types and value domains of
the repository's test tables (FIXTURES.md), at scale factor ``sf``: row
counts are TPC-H's (lineitem 6M x sf) and the text and vector tables keep
the test tables' ratios to them. Every value is a hash of the row number,
a column salt and the seed, so the same seed and scale give the same rows
and sizes do not vary with the seed.

Documents are word salad over a 30-word vocabulary. Every tenth document
is a near-duplicate of the one before (one word replaced by ``dup``) and
every hundredth an exact copy, so the dedup keys have pairs to find.
Embeddings are unit-norm 64-vectors; every fourth is a small perturbation
of the one before, so the similarity keys have neighbours to find.
"""

from __future__ import annotations

import os

# rows at sf 1
ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
    "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000, "embeddings": 20_000,
}
USERS = 15_000
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
TABLES = ("region", "nation", *ROWS)


def _lit(values) -> str:
    return "[" + ", ".join(f"'{v}'" for v in values) + "]"


def _pick(values, h: str) -> str:
    return f"{_lit(values)}[1 + {h} % {len(values)}]"


def table_sql(name: str, sf: float, seed: int) -> str:
    """The SELECT that yields table ``name``; ``i`` is the row number."""
    n = {t: max(1, round(r * sf)) for t, r in ROWS.items()}

    def h(salt: int, row: str = "i") -> str:
        return f"(hash({row}, {seed}, {salt}) >> 1)::BIGINT"

    def u(salt: int) -> str:  # uniform in [0, 1)
        return f"({h(salt)} % 1000000) / 1000000.0"

    rows = f"FROM range({n.get(name, 0)}) t(i)"
    if name == "region":
        regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        return ("SELECT i::INTEGER AS r_regionkey, "
                f"{_lit(regions)}[i + 1] AS r_name FROM range(5) t(i)")
    if name == "nation":
        return ("SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    if name == "customer":
        segments = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        return (f"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                f"({h(1)} % 25)::INTEGER AS c_nationkey, "
                f"round(-999.99 + {u(2)} * 10999.99, 2) AS c_acctbal, "
                f"{_pick(segments, h(3))} AS c_mktsegment {rows}")
    if name == "supplier":
        return (f"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                f"({h(1)} % 25)::INTEGER AS s_nationkey, "
                f"round(-999.99 + {u(2)} * 10999.99, 2) AS s_acctbal {rows}")
    if name == "part":
        adjectives = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
        nouns = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "bracket")
        types = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
        return (f"SELECT i AS p_partkey, "
                f"{_pick(adjectives, h(1))} || ' ' || {_pick(nouns, h(2))} AS p_name, "
                f"'Brand#' || (1 + {h(3)} % 25) AS p_brand, {_pick(types, h(4))} AS p_type, "
                f"(1 + {h(5)} % 50)::INTEGER AS p_size, "
                f"round(900 + (i % 1000) * 0.1, 2) AS p_retailprice {rows}")
    if name == "orders":
        priorities = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        return (f"SELECT i AS o_orderkey, {h(1)} % {n['customer']} AS o_custkey, "
                f"{_pick('OPF', h(2))} AS o_orderstatus, "
                f"round(1000 + {u(3)} * 499000, 2) AS o_totalprice, "
                f"(DATE '1995-01-01' + ({h(4)} % 2404)::INTEGER)::TIMESTAMP AS o_orderdate, "
                f"{_pick(priorities, h(5))} AS o_orderpriority {rows}")
    if name == "lineitem":
        return (f"SELECT {h(1)} % {n['orders']} AS l_orderkey, "
                f"{h(2)} % {n['part']} AS l_partkey, {h(3)} % {n['supplier']} AS l_suppkey, "
                f"(1 + {h(4)} % 7)::INTEGER AS l_linenumber, "
                f"(1 + {h(5)} % 50)::DOUBLE AS l_quantity, "
                f"round(900 + {u(6)} * 104100, 2) AS l_extendedprice, "
                f"({h(7)} % 11) / 100.0 AS l_discount, ({h(8)} % 9) / 100.0 AS l_tax, "
                f"{_pick('ANR', h(9))} AS l_returnflag, {_pick('FO', h(10))} AS l_linestatus, "
                f"(DATE '1995-01-02' + ({h(11)} % 2498)::INTEGER)::TIMESTAMP AS l_shipdate {rows}")
    if name == "events":
        step = 30 * 86_400_000_000 // n["events"]
        types = ("click", "error", "purchase", "signup", "view")
        return (f"SELECT i AS event_id, "
                f"TIMESTAMP '2024-01-01' + to_microseconds(i * {step} + {h(1)} % {step}) AS ts, "
                f"{h(2)} % {max(1, round(USERS * sf))} AS user_id, {_pick(types, h(3))} AS event_type, "
                f"round(-ln(1 - {u(4)}) * 50, 2) AS value, "
                f"'{{\"k\": ' || ({h(5)} % 100) || '}}' AS props {rows}")
    if name == "documents":
        # src: the document whose words this one copies (itself, the one
        # before for a near-duplicate, three before for an exact copy)
        langs = ("en", "en", "en", "zh", "fr", "es", "de")
        words = (f"list_transform(range(8 + {h(1, 'src')} % 98), j -> "
                 f"CASE WHEN i % 10 = 1 AND j = 2 THEN 'dup' "
                 f"ELSE {_lit(VOCAB)}[1 + (hash(src, j, {seed}) >> 1)::BIGINT % {len(VOCAB)}] END)")
        return (f"SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM ("
                f"SELECT i AS doc_id, array_to_string({words}, ' ') AS text, "
                f"{_pick(langs, h(2))} AS lang, 'src' || (i % 20) AS source FROM ("
                f"SELECT i, CASE WHEN i % 100 = 3 THEN i - 3 WHEN i % 10 = 1 THEN i - 1 "
                f"ELSE i END AS src {rows}))")
    if name == "embeddings":
        raw = (f"list_transform(range(64), j -> "
               f"((hash(CASE WHEN i % 4 = 1 THEN i - 1 ELSE i END, j, {seed}, 1) >> 1)::BIGINT % 2001 - 1000)"
               f" / 1000.0 + 0.05 * (((hash(i, j, {seed}, 2) >> 1)::BIGINT % 2001 - 1000) / 1000.0))")
        return ("SELECT vec_id, list_transform(raw, x -> (x / sqrt(list_sum("
                "list_transform(raw, y -> y * y))))::FLOAT) AS embedding, label FROM ("
                f"SELECT i AS vec_id, {raw} AS raw, ({h(3)} % 10)::INTEGER AS label {rows})")
    raise KeyError(name)


def generate(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> str:
    """Write each named table as ``out_dir/<name>.parquet``; returns ``out_dir``."""
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.sql("SET enable_progress_bar = false")
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        con.sql(f"COPY ({table_sql(name, sf, seed)}) TO '{path}' (FORMAT PARQUET)")
    con.close()
    return out_dir
