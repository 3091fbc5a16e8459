"""The reference's user lifecycle as one façade: a varda user's REST
workflow (SURVEY §3 — create sample, import variation/coverage, activate,
annotate) becomes method calls over a parquet warehouse. Every method
delegates to the oracle-/pytest-verified building blocks; this module adds
only the lifecycle glue: directory layout, the duplicate-import checksum
guard (A7), sample-dimension updates, and activation gating.

Warehouse layout under ``root/``:
  samples/        dimension (sample_id, name, pool_size, coverage_profile,
                  public, active)
  observations/   fact, partitioned by chromosome (A5)
  regions/        fact, partitioned by chromosome
  manifest/       (checksum, kind, sample_id) — duplicate-import guard

Every table is read with its declared schema (``_SAMPLE_SCHEMA`` …), so a
read launches no schema-inference job, a numeric-only ``chromosome``
partition stays a string, and a table holding no data files yet (a
header-only VCF's import) reads as empty. An import counts its rows with an
``Observation`` during its write instead of parsing the input a second time.

``samples/`` and ``manifest/`` are one-row-per-call metadata (PostgreSQL row
writes in the reference), so they never touch a Spark job: the driver reads
and writes them with ``pyarrow.parquet`` in the declared types, as plain
parquet directories that ``spark.read.parquet`` still reads. ``samples()``
is a snapshot of the dimension taken at call time, handed to Spark as a
JVM-local table (``session.local_table``); a later create/activate does not
change a DataFrame already returned.

Scale notes: facts are append-only per import (one atomic parquet write
each); the sample dimension is rewritten whole by a directory swap, the
manifest grows by one atomically renamed file per import. Frequency/
annotation read whatever imports have landed — the same decoupling varda
gets from PostgreSQL MVCC, without row-level updates.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from varda_spark.annotate import annotate_keys
from varda_spark.expressions import compile_selection
from varda_spark.frequency import frequency
from varda_spark.session import arrow_schema, local_table
from varda_spark.sources.bed import read_bed
from varda_spark.sources.sinks import recover_compaction, swap_in
from varda_spark.sources.vcf import read_vcf

_SAMPLE_SCHEMA = (
    "sample_id bigint, name string, pool_size int, coverage_profile boolean, "
    "public boolean, active boolean, version int"
)
_MANIFEST_SCHEMA = "checksum string, kind string, sample_id bigint"
_OBS_SCHEMA = (
    "chromosome string, position long, reference string, observed string, "
    "sample_name string, zygosity string, support int, sample_id long"
)
_REGION_SCHEMA = "chromosome string, begin long, end long, bin int, sample_id long"


class DuplicateImportError(ValueError):
    """Same content imported twice (A7 checksum guard)."""


class VardaWarehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # ---- storage helpers -------------------------------------------------
    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _live(self, name: str) -> str:
        """The table's path, after rolling back a directory swap (a
        compaction or a dimension rewrite) that crashed between its two
        renames, so no table reads as empty — or gets a fresh directory
        appended beside it — while its only complete copy sits in
        ``__old``."""
        path = self._path(name)
        if os.path.exists(path) or os.path.exists(path + "__old"):
            recover_compaction(path)
        return path

    def _read(self, name: str, schema: str) -> DataFrame:
        path = self._live(name)
        if not os.path.exists(path):
            return local_table(self.spark, [], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _rows(self, name: str, schema: str) -> list[dict]:
        """A driver-side table's rows, read with pyarrow in the declared
        types."""
        path = self._live(name)
        if not os.path.exists(path):
            return []
        return pq.read_table(path, schema=arrow_schema(schema)).to_pylist()

    def _overwrite_dim(self, name: str, rows: list[dict], schema: str) -> None:
        """Directory-swap rewrite of a (tiny) dimension from the driver.

        Write the rows as one parquet file into ``__new``, then ``swap_in``
        — a crash at any step leaves either the old or the new complete
        directory on disk (the renames are atomic on a local/posix
        filesystem; on object stores swap in a manifest-pointer commit
        instead). Callers read through ``_rows`` first, which rolls a
        crashed swap back, so ``__old`` is never deleted before the live
        dir is whole again. Single-writer, like the rest of the
        lifecycle."""
        final = self._path(name)
        tmp = final + "__new"
        if os.path.exists(tmp):  # a write that crashed before its swap
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        table = pa.Table.from_pylist(rows, schema=arrow_schema(schema))
        pq.write_table(table, f"{tmp}/part-00000.parquet")
        swap_in(final)

    # ---- lifecycle (varda REST §3) --------------------------------------
    def samples(self) -> DataFrame:
        """The sample dimension as of this call (a driver-local snapshot)."""
        return local_table(self.spark, self._rows("samples", _SAMPLE_SCHEMA), _SAMPLE_SCHEMA)

    def create_sample(
        self, name: str, *, pool_size: int = 1, public: bool = False
    ) -> int:
        """Register a sample; returns its id.

        The id is a content hash of the sample name (top 62 bits of
        sha1) — no max()+1 read-modify-write, so two writers creating
        DIFFERENT samples can never mint the same id. Creating the same
        name twice raises (names are the user-facing key, as in the
        reference's one-task-per-sample REST lifecycle)."""
        rows = self._rows("samples", _SAMPLE_SCHEMA)
        if any(r["name"] == name for r in rows):
            raise ValueError(f"sample name {name!r} already exists")
        sample_id = int.from_bytes(hashlib.sha1(name.encode()).digest()[:8], "big") >> 2
        rows.append(dict(sample_id=sample_id, name=name, pool_size=pool_size,
                         coverage_profile=False, public=public, active=False, version=0))
        self._overwrite_dim("samples", rows, _SAMPLE_SCHEMA)
        return sample_id

    def _sample_rows(self, sample_id: int) -> list[dict]:
        """The sample dimension's rows; raises ``KeyError`` if
        ``sample_id`` is not among them, before the caller writes
        anything."""
        rows = self._rows("samples", _SAMPLE_SCHEMA)
        if not any(r["sample_id"] == sample_id for r in rows):
            raise KeyError(f"unknown sample id {sample_id}")
        return rows

    def _check_duplicate(self, path: str, kind: str) -> str:
        # stream the digest in 1 MiB chunks — a multi-GB VCF must not be
        # slurped into driver memory for a checksum
        h = hashlib.sha1()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        digest = h.hexdigest()
        if any(r["checksum"] == digest for r in self._rows("manifest", _MANIFEST_SCHEMA)):
            raise DuplicateImportError(f"{kind} content {digest} already imported")
        return digest

    def _record_import(self, digest: str, kind: str, sample_id: int) -> None:
        # recorded only AFTER the fact write lands — a failed import must
        # not burn its checksum (the re-import would be rejected forever).
        # Readers skip dot-prefixed files, and the rename is atomic, so a
        # crash never leaves a partial visible entry.
        entry = [dict(checksum=digest, kind=kind, sample_id=sample_id)]
        path = self._path("manifest")
        os.makedirs(path, exist_ok=True)
        part = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(pa.Table.from_pylist(entry, schema=arrow_schema(_MANIFEST_SCHEMA)),
                       f"{path}/.{part}")
        os.rename(f"{path}/.{part}", f"{path}/{part}")

    def _append_fact(self, name: str, df: DataFrame, digest: str, kind: str, sample_id: int) -> int:
        """Append one import's rows to a fact table, then record its
        checksum; returns the row count, observed during the write."""
        rows = Observation()
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("append").partitionBy(
            "chromosome"
        ).parquet(self._live(name))
        self._record_import(digest, kind, sample_id)
        return rows.get["n"]

    def import_variation(self, sample_id: int, vcf_path: str) -> int:
        """VCF → observations for this sample (per-ALT/per-sample decompose,
        normalization, ref==alt guard all inside read_vcf). Returns the
        number of observation rows this import added."""
        self._sample_rows(sample_id)
        digest = self._check_duplicate(vcf_path, "vcf")
        obs = read_vcf(self.spark, vcf_path).withColumn("sample_id", F.lit(sample_id).cast("long"))
        return self._append_fact("observations", obs, digest, "vcf", sample_id)

    def import_coverage(self, sample_id: int, bed_path: str) -> int:
        """BED → regions; flips the sample's coverage_profile flag."""
        self._sample_rows(sample_id)
        digest = self._check_duplicate(bed_path, "bed")
        reg = read_bed(self.spark, bed_path).withColumn("sample_id", F.lit(sample_id).cast("long"))
        n = self._append_fact("regions", reg, digest, "bed", sample_id)
        self._set_sample_flag(sample_id, "coverage_profile", True)
        return n

    def activate_sample(self, sample_id: int) -> None:
        """Only activated samples count in any frequency (varda semantics)."""
        self._set_sample_flag(sample_id, "active", True)

    def _set_sample_flag(self, sample_id: int, flag: str, value: bool) -> None:
        rows = self._sample_rows(sample_id)
        for r in rows:
            if r["sample_id"] == sample_id:
                r[flag], r["version"] = value, r["version"] + 1
        self._overwrite_dim("samples", rows, _SAMPLE_SCHEMA)

    # ---- queries ---------------------------------------------------------
    def observations(self) -> DataFrame:
        return self._read("observations", _OBS_SCHEMA)

    def regions(self) -> DataFrame:
        return self._read("regions", _REGION_SCHEMA)

    def frequency(self, selection: str | None = None, keys: DataFrame | None = None) -> DataFrame:
        sel = compile_selection(selection) if selection else None
        return frequency(keys, self.observations(), self.regions(), self.samples(), sel)

    def annotate(self, vcf_path: str, queries: dict[str, str]) -> DataFrame:
        """Annotate a VCF's variant keys with per-query VN/VF columns."""
        obs, regions, samples = self.observations(), self.regions(), self.samples()
        return annotate_keys(read_vcf(self.spark, vcf_path), obs, regions, samples, queries)
