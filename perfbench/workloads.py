"""The two workloads: what one pass does and how its outputs are checked.

Every call goes through the package's public entry points from a single
client, closed loop: the next call starts when the previous one returns.

- ``varda_lifecycle``: the ``VardaWarehouse`` user lifecycle on seeded
  VCF/BED files (``gen.py``), checked against a plain-Python reference.
- ``catalog_sf0.1``: ``REGISTRY[key].fn`` materialized to the noop sink on
  seeded tables (``tables.py``), each key checked against its DuckDB
  oracle on the same tables.

Sizes are chosen so that one run, set-up included, stays near a minute on
4 CPUs, not by the scale the catalog is meant for; the measured walls are
in ``METRICS.md``. Each run makes one untimed warm-up pass and checks its
outputs before any pass is timed.
"""

from __future__ import annotations

import os
import random
import time

from perfbench import gen, tables

# Two samples is the least that exercises the reference's cases (one with
# a BED coverage profile and public, one bare and private). A pass is then
# 81 small Spark jobs; it is job-bound, so more sites would add little.
LIFECYCLE_SAMPLES = 2
LIFECYCLE_SITES = 3000
ANNOTATE_QUERIES = {"ALL": "*", "PUB": "public"}

CATALOG_SF = 0.1
# One mix, so that a run fits its budget, of two kinds of keys. A JVM-only
# key stresses scans, shuffle, joins and aggregation; the others stress the
# localCheckpoint jobs that run inside REGISTRY[key].fn before the
# DataFrame is returned, and Python (Arrow) workers. The interval and
# frequency operators run on the lifecycle. The trace file splits every
# span by key.
JVM_KEYS = (
    "tpch_q5",  # 6-way join: broadcast dims, shuffle join, aggregate
)
PYTHON_KEYS = (
    "dedup_minhash",       # operators.dedup: eager localCheckpoint while building
    "emb_semantic_dedup",  # operators.similarity: mapInPandas + applyInPandas kernels
)
# The tables these keys read (from their oracle SQL); only these are made.
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem", "documents", "embeddings",
)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Lifecycle:
    """create → import variation/coverage → activate per sample, then
    frequency() and annotate(), in a fresh warehouse directory each pass."""

    # A pass is 7-21 s once the JVM is warm, as the host's speed varies. Two
    # timed passes are what the run's time allows beside its set-up when the
    # host is slow.
    warm_passes = 1
    min_passes = 2

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = gen.generate(
            os.path.join(work, "inputs"), seed,
            n_samples=LIFECYCLE_SAMPLES, n_sites=LIFECYCLE_SITES,
        )
        self.ref = gen.reference(self.inputs)
        self.input_bytes = self.inputs.input_bytes()
        self.last_wh = None

    def _populate(self, wh, tracer, out: dict) -> int:
        """Run the per-sample calls; returns how many returned a wrong count."""
        wrong = 0
        for s in self.inputs.samples:
            with tracer.span("api.create_sample"):
                sid = wh.create_sample(s.name, public=s.public)
            t = time.perf_counter()
            with tracer.span("api.import_variation"):
                n = wh.import_variation(sid, s.vcf)
            out["import_s"].append(time.perf_counter() - t)
            wrong += n != self.ref.obs_rows[s.name]
            if s.bed:
                with tracer.span("api.import_coverage"):
                    n = wh.import_coverage(sid, s.bed)
                wrong += n != self.ref.region_rows[s.name]
            with tracer.span("api.activate_sample"):
                wh.activate_sample(sid)
        return wrong

    def ops_per_pass(self) -> int:
        samples = self.inputs.samples
        return 3 * len(samples) + sum(1 for x in samples if x.bed) + 2

    def check(self, spark, tracer) -> tuple[int, int]:
        """Collect ``frequency()`` and ``annotate()`` from the warm-up pass's
        warehouse and compare them with the reference. Returns (operations
        attempted, operations failed)."""
        wh = self.last_wh
        key = ("chromosome", "position", "reference", "observed")
        freq = {tuple(r[k] for k in key): (r.vn, r.vc, r.vf) for r in wh.frequency().collect()}
        ann = {
            tuple(r[k] for k in key): (r.ALL_vn, r.ALL_vf, r.PUB_vn, r.PUB_vf)
            for r in wh.annotate(self.inputs.query_vcf, ANNOTATE_QUERIES).collect()
        }
        return 2, (freq != self.ref.frequency) + (ann != self.ref.annotate)

    def run_pass(self, spark, tracer, i: int) -> dict:
        from varda_spark.api import VardaWarehouse

        out = {"attempted": self.ops_per_pass(), "import_s": []}
        wh = self.last_wh = VardaWarehouse(spark, self._root(i))
        out["failed"] = self._populate(wh, tracer, out)
        with tracer.span("api.frequency"):
            materialize(wh.frequency())
        t = time.perf_counter()
        with tracer.span("api.annotate"):
            materialize(wh.annotate(self.inputs.query_vcf, ANNOTATE_QUERIES))
        out["annotate_s"] = time.perf_counter() - t
        return out

    def _root(self, i: int) -> str:
        return os.path.join(self.work, f"wh-{i}")

    def after_pass(self, result: dict) -> dict:
        """Warehouse bytes the pass left per input byte."""
        return {"stored_bytes_per_input_byte": dir_bytes(self._root(result["i"])) / self.input_bytes}


class Catalog:
    """Every key of a mix per pass, in a seeded order that changes each pass."""

    # The check, which collects every key, is the cold pass: a separate
    # warm-up pass would take time the timed passes need. A pass is 2-4 s,
    # so the run's seconds decide how many; the median takes up the first,
    # slower one.
    warm_passes = 0
    min_passes = 3

    def __init__(self, keys: tuple[str, ...], table_names: tuple[str, ...], work: str, seed: int):
        self.keys = keys
        self.sf_dir = tables.generate(os.path.join(work, "tables"), seed, CATALOG_SF, table_names)
        self.table_names = table_names
        self.work = work
        self.rng = random.Random(seed)

    def order(self) -> list[str]:
        return self.rng.sample(self.keys, len(self.keys))

    def check(self, spark, tracer) -> tuple[int, int]:
        """Each key once, collected, against its DuckDB oracle on the same
        tables."""
        import duckdb

        from tools.check_oracle import compare
        from varda_spark.catalog import REGISTRY

        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        for t in self.table_names:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        failed = 0
        for key in self.order():
            try:
                with tracer.span("catalog.check", key=key):
                    got = REGISTRY[key].fn(spark, self.sf_dir).toPandas()
                verdict = compare(key, got, con.sql(REGISTRY[key].sql).df())
            except Exception as ex:  # a raising key is a failed operation
                verdict = f"{type(ex).__name__}: {ex}"
            if verdict != "EXACT":
                print(f"perfbench: {key} failed the oracle check: {verdict[:300]}", flush=True)
                failed += 1
        con.close()
        return len(self.keys), failed

    def run_pass(self, spark, tracer, i: int) -> dict:
        from varda_spark.catalog import REGISTRY

        failed = 0
        for key in self.order():
            try:
                with tracer.span("catalog.build", key=key):
                    df = REGISTRY[key].fn(spark, self.sf_dir)
                with tracer.span("catalog.execute", key=key):
                    materialize(df)
            except Exception as ex:  # counted, and the pass goes on
                print(f"perfbench: {key} raised {type(ex).__name__}: {str(ex)[:300]}", flush=True)
                failed += 1
        return {"attempted": len(self.keys), "failed": failed}

    def after_pass(self, result: dict) -> dict:
        return {}


NAMES = ("varda_lifecycle", "catalog_sf0.1")


def make(name: str, work: str, seed: int):
    if name == "varda_lifecycle":
        return Lifecycle(work, seed)
    if name == "catalog_sf0.1":
        return Catalog(JVM_KEYS + PYTHON_KEYS, CATALOG_TABLES, work, seed)
    raise KeyError(name)
