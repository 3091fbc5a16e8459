"""End-to-end varda user lifecycle on the VardaWarehouse façade:
create → import → activate → frequency/annotate, with the A7 duplicate
guard and activation gating — the workflow a reference user runs over
REST, as library calls (SURVEY §3)."""

import pytest

from tests.conftest import jobs_of
from varda_spark.api import DuplicateImportError, VardaWarehouse

VCF_A = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1
chr1\t300\t.\tC\tT\t50\tPASS\t.\tGT\t1/1
"""

VCF_B = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNB1
chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t1/1
"""

BED_A = "chr1\t50\t200\n"


def test_full_lifecycle(spark, tmp_path):
    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    va, vb = tmp_path / "a.vcf", tmp_path / "b.vcf"
    va.write_text(VCF_A)
    vb.write_text(VCF_B)
    bed = tmp_path / "a.bed"
    bed.write_text(BED_A)

    sa = wh.create_sample("A", public=True)
    sb = wh.create_sample("B", public=False)
    # ids are content hashes of the name: distinct, stable, race-free
    assert sa != sb and sa > 0 and sb > 0
    import hashlib

    assert sa == int.from_bytes(hashlib.sha1(b"A").digest()[:8], "big") >> 2
    import pytest

    with pytest.raises(ValueError):
        wh.create_sample("A")  # duplicate name rejected

    assert wh.import_variation(sa, str(va)) == 2
    assert wh.import_coverage(sa, str(bed)) == 1
    assert wh.import_variation(sb, str(vb)) == 1

    # A7: the same content cannot land twice
    with pytest.raises(DuplicateImportError):
        wh.import_variation(sb, str(va))

    # nothing counts before activation
    f0 = {r.position: r.vn for r in wh.frequency().collect()}
    assert set(f0.values()) == {0}

    wh.activate_sample(sa)
    wh.activate_sample(sb)

    # A has coverage 50-200 (covers pos 100, not 300); B covers genome-wide
    f = {(r.position): (r.vn, r.vc, r.vf) for r in wh.frequency().collect()}
    assert f[100] == (2, 2, 1.0)     # both cover 100, both carry A>G
    assert f[300] == (1, 1, 1.0)     # only B's genome-wide pool at 300
    # selection narrows to the public sample: A is uncovered at 300 (vn 0)
    # but its observation still counts in vc — varda counts support
    # independently of the coverage denominator
    fp = {r.position: (r.vn, r.vc) for r in wh.frequency(selection="public").collect()}
    assert fp[100] == (1, 1) and fp[300] == (0, 1)

    ann = wh.annotate(str(va), {"ALL": "*", "PUB": "public"}).collect()
    by_pos = {r.position: r for r in ann}
    assert by_pos[100].ALL_vn == 2 and by_pos[100].PUB_vn == 1
    assert by_pos[300].ALL_vf == 1.0


def _declared_types(ddl: str) -> dict[str, str]:
    from pyspark.sql.types import StructType

    return {f.name: f.dataType.simpleString() for f in StructType.fromDDL(ddl).fields}


def test_warehouse_without_fact_files_reads_empty(spark, tmp_path):
    """A header-only VCF, a 0-byte BED and a track-only BED import 0 rows
    and leave fact directories without data files; the warehouse still
    answers queries, and the checksum guard still holds."""
    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    vcf = tmp_path / "header_only.vcf"
    vcf.write_text(VCF_A.split("chr1\t")[0])
    empty_bed, track_bed = tmp_path / "empty.bed", tmp_path / "track.bed"
    empty_bed.write_text("")
    track_bed.write_text('track name="empty"\n')

    sa, sb = wh.create_sample("A", public=True), wh.create_sample("B")
    assert wh.import_variation(sa, str(vcf)) == 0
    assert wh.import_coverage(sa, str(empty_bed)) == 0
    assert wh.import_coverage(sb, str(track_bed)) == 0
    with pytest.raises(DuplicateImportError):
        wh.import_variation(sb, str(vcf))
    with pytest.raises(DuplicateImportError):
        wh.import_coverage(sb, str(empty_bed))
    wh.activate_sample(sa)
    wh.activate_sample(sb)

    assert wh.observations().count() == 0 and wh.regions().count() == 0
    assert wh.frequency().collect() == []
    assert wh.annotate(str(vcf), {"ALL": "*"}).collect() == []
    query = tmp_path / "query.vcf"
    query.write_text(VCF_A)
    ann = {r.position: (r.ALL_vn, r.ALL_vf) for r in wh.annotate(str(query), {"ALL": "*"}).collect()}
    assert ann == {100: (0, 0.0), 300: (0, 0.0)}


def test_numeric_chromosomes_read_back_as_declared_types(spark, tmp_path):
    """chr1/chr2 normalize to "1"/"2"; partition discovery must not turn
    the chromosome column into an int."""
    from varda_spark.api import _OBS_SCHEMA, _REGION_SCHEMA, _SAMPLE_SCHEMA

    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    vcf, bed = tmp_path / "a.vcf", tmp_path / "a.bed"
    vcf.write_text(VCF_A + "chr2\t500\t.\tG\tA\t50\tPASS\t.\tGT\t0/1\n")
    bed.write_text(BED_A + "chr2\t400\t600\n")
    sid = wh.create_sample("A")
    wh.import_variation(sid, str(vcf))
    wh.import_coverage(sid, str(bed))
    wh.activate_sample(sid)

    for df, ddl in [
        (wh.observations(), _OBS_SCHEMA),
        (wh.regions(), _REGION_SCHEMA),
        (wh.samples(), _SAMPLE_SCHEMA),
    ]:
        assert dict(df.dtypes) == _declared_types(ddl)
    freq = wh.frequency()
    assert dict(freq.dtypes)["chromosome"] == "string"
    assert sorted(r.chromosome for r in freq.collect()) == ["1", "1", "2"]


def test_local_table_plans_in_the_jvm(spark):
    from varda_spark.api import _MANIFEST_SCHEMA
    from varda_spark.session import local_table

    empty = local_table(spark, [], _MANIFEST_SCHEMA)
    one = local_table(spark, [dict(checksum="c", kind="vcf", sample_id=7)], _MANIFEST_SCHEMA)
    for df in (empty, one):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
        assert dict(df.dtypes) == _declared_types(_MANIFEST_SCHEMA)
    assert empty.collect() == [] and [tuple(r) for r in one.collect()] == [("c", "vcf", 7)]


def test_lifecycle_job_budget(spark, tmp_path):
    """create → import → activate for two seeded samples: the sample
    dimension and the manifest are read and written on the driver, so
    create/activate launch no Spark job and each import only its fact
    write. Each import still returns the row count of its input."""
    from perfbench import gen
    from varda_spark.sources.bed import read_bed
    from varda_spark.sources.vcf import read_vcf

    inputs = gen.generate(str(tmp_path / "in"), 1, n_samples=2, n_sites=300)
    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    sc = spark.sparkContext
    counts, jobs = [], 0
    for s in inputs.samples:
        sid, n = jobs_of(sc, "create", lambda: wh.create_sample(s.name, public=s.public))
        assert n == 0, ("create_sample", n)
        rows, n = jobs_of(sc, "import_variation", lambda: wh.import_variation(sid, s.vcf))
        counts.append((rows, read_vcf, s.vcf))
        jobs += n
        if s.bed:
            rows, n = jobs_of(sc, "import_coverage", lambda: wh.import_coverage(sid, s.bed))
            counts.append((rows, read_bed, s.bed))
            jobs += n
        _, n = jobs_of(sc, "activate", lambda: wh.activate_sample(sid))
        assert n == 0, ("activate_sample", n)
    assert any(s.bed for s in inputs.samples)
    assert jobs <= 3, jobs
    for n, reader, path in counts:
        assert n == reader(spark, path).count() > 0


def test_read_half_job_budget(spark, tiny_warehouse):
    """frequency()/annotate() on the seeded two-sample warehouse: the sample
    dimension resolves on the driver into id sets and a literal pool, so
    building either launches no job, and running it launches no job for
    the dimension or the unconditional pool."""
    wh, inputs = tiny_warehouse
    sc = spark.sparkContext
    for label, build, budget in (
        ("frequency", wh.frequency, 4),
        ("annotate", lambda: wh.annotate(inputs.query_vcf, {"ALL": "*", "PUB": "public"}), 5),
    ):
        df, n = jobs_of(sc, label, build)
        assert n == 0, (label, n)
        _, n = jobs_of(sc, label, lambda: df.write.format("noop").mode("overwrite").save())
        assert n <= budget, (label, n)


def test_crash_mid_swap_keeps_the_dimension(spark, tmp_path, monkeypatch):
    """A process that dies between moving ``samples/`` aside and moving the
    new copy in leaves only ``samples__old``. The next read must roll it
    back: the old rows return, and their names stay taken."""
    import os

    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    sa = wh.create_sample("A", public=True)
    wh.activate_sample(sa)
    before = [r.asDict() for r in wh.samples().collect()]

    rename = os.rename

    def crash_on_swap_in(src, dst):
        if str(src).endswith("__new"):
            raise OSError("simulated crash mid-swap")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError):
        wh.create_sample("B")
    monkeypatch.undo()
    assert not os.path.exists(tmp_path / "wh" / "samples")

    assert [r.asDict() for r in wh.samples().collect()] == before
    assert before[0]["active"] is True
    with pytest.raises(ValueError):
        wh.create_sample("A")
    sb = wh.create_sample("B")
    assert {r.sample_id: r.active for r in wh.samples().collect()} == {sa: True, sb: False}
    assert sorted(os.listdir(tmp_path / "wh")) == ["samples"]


def test_reads_dimensions_written_by_spark(spark, tmp_path):
    """A warehouse whose ``samples/`` and ``manifest/`` were written by
    Spark (snappy part files, ``_SUCCESS``, ``.crc``) reads back with the
    same rows and declared types, keeps refusing its recorded checksums,
    and accepts later updates that Spark can still read."""
    import hashlib

    from varda_spark.api import _MANIFEST_SCHEMA, _SAMPLE_SCHEMA
    from varda_spark.session import local_table

    root = tmp_path / "wh"
    vcf = tmp_path / "a.vcf"
    vcf.write_text(VCF_A)
    sid = int.from_bytes(hashlib.sha1(b"A").digest()[:8], "big") >> 2
    row = dict(sample_id=sid, name="A", pool_size=2, coverage_profile=False,
               public=True, active=False, version=0)
    local_table(spark, [row], _SAMPLE_SCHEMA).write.parquet(str(root / "samples"))
    digest = hashlib.sha1(vcf.read_bytes()).hexdigest()
    local_table(spark, [dict(checksum=digest, kind="vcf", sample_id=sid)], _MANIFEST_SCHEMA) \
        .write.parquet(str(root / "manifest"))
    assert "_SUCCESS" in {p.name for p in (root / "samples").iterdir()}

    wh = VardaWarehouse(spark, str(root))
    got = wh.samples()
    assert [r.asDict() for r in got.collect()] == [row]
    assert dict(got.dtypes) == _declared_types(_SAMPLE_SCHEMA)
    with pytest.raises(DuplicateImportError):
        wh.import_variation(sid, str(vcf))
    with pytest.raises(ValueError):
        wh.create_sample("A")

    wh.activate_sample(sid)
    assert [r.active for r in wh.samples().collect()] == [True]
    on_disk = spark.read.parquet(str(root / "samples"))
    assert [(r.name, r.active, r.version) for r in on_disk.collect()] == [("A", True, 1)]
    assert dict(on_disk.dtypes) == _declared_types(_SAMPLE_SCHEMA)


def test_unknown_sample_id_is_refused(spark, tmp_path):
    """An id that was never created raises before anything is written: no
    fact row lands and the file's checksum is not used up."""
    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    vcf, bed = tmp_path / "a.vcf", tmp_path / "a.bed"
    vcf.write_text(VCF_A)
    bed.write_text(BED_A)

    with pytest.raises(KeyError, match="12345"):
        wh.activate_sample(12345)
    with pytest.raises(KeyError, match="999"):
        wh.import_variation(999, str(vcf))
    with pytest.raises(KeyError, match="999"):
        wh.import_coverage(999, str(bed))
    assert wh.observations().count() == 0 and wh.regions().count() == 0
    assert wh.samples().count() == 0

    sid = wh.create_sample("A")
    assert wh.import_variation(sid, str(vcf)) == 2
    assert wh.import_coverage(sid, str(bed)) == 1


def test_crashed_compaction_keeps_the_facts(spark, tmp_path, monkeypatch):
    """A compaction that dies between moving ``observations/`` aside and
    moving the compacted copy in leaves only ``observations__old``. Every
    later access to the fact table rolls that back first: reads see the
    rows from before the crash, and an import followed by another
    compaction keeps every one of them."""
    import os

    from perfbench import gen
    from varda_spark.sources.sinks import compact_warehouse

    inputs = gen.generate(str(tmp_path / "in"), 1, n_samples=2, n_sites=300)
    wh = VardaWarehouse(spark, str(tmp_path / "wh"))
    for s in inputs.samples:
        sid = wh.create_sample(s.name, public=s.public)
        wh.import_variation(sid, s.vcf)
        wh.activate_sample(sid)
    obs_before = sorted(map(tuple, wh.observations().collect()))
    freq_before = sorted(map(tuple, wh.frequency().collect()))
    assert obs_before and freq_before

    rename = os.rename

    def crash_on_swap_in(src, dst):
        if str(src).endswith("__new"):
            raise OSError("simulated crash mid-compaction")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(OSError):
        compact_warehouse(spark, wh.root + "/observations")
    monkeypatch.undo()
    assert not os.path.exists(tmp_path / "wh" / "observations")

    assert sorted(map(tuple, wh.observations().collect())) == obs_before
    assert sorted(map(tuple, wh.frequency().collect())) == freq_before

    vcf = tmp_path / "late.vcf"
    vcf.write_text(VCF_A)
    late = wh.create_sample("late")
    added = wh.import_variation(late, str(vcf))
    assert compact_warehouse(spark, wh.root + "/observations") == len(obs_before) + added
    after = sorted(map(tuple, wh.observations().collect()))
    assert set(obs_before) <= set(after) and len(after) == len(obs_before) + added
