"""VCF/BED ingest + annotated-VCF sink round-trip tests (A1/A2/A4/A6).

Fixtures replicate the reference's tricky records (FIXTURES.md §B):
multi-ALT, indel normalization, pooled support, genotype zygosity.
"""

import glob

import pyspark.sql.functions as Fn
import pytest

from varda_spark.frequency import frequency
from varda_spark.sources.bed import read_bed
from varda_spark.sources.genome import (
    build_fai,
    quarantine_split,
    region_reader,
    validate_reference,
)
from varda_spark.sources.sinks import (
    format_annotated_vcf_lines,
    write_annotated_vcf,
    write_observations,
)
from varda_spark.sources.vcf import read_vcf

VCF_WITH_SAMPLES = """##fileformat=VCFv4.2
##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\tNA2
chr1\t100\t.\tA\tG\t50\tPASS\tDP=10\tGT\t0/1\t1/1
chr1\t200\t.\tCAG\tCTG,C\t99\tPASS\tDP=12\tGT\t1/2\t0/0
chrM\t300\t.\tTC\tT\t10\tPASS\tDP=5\tGT\t./.\t0|1
"""

VCF_POOLED = """##fileformat=VCFv4.2
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
1\t100\t.\tA\tG,T\t50\tPASS\tSF_SUPPORT=3,2;DP=10
2\t500\t.\tT\tTA\t50\tPASS\tDP=4
"""

BED = """# coverage for NA1
chr1\t90\t250
chr1\t240\t300
chrM\t0\t1000
"""


@pytest.fixture()
def vcf_path(tmp_path):
    p = tmp_path / "in.vcf"
    p.write_text(VCF_WITH_SAMPLES)
    return str(p)


def test_read_vcf_samples(spark, vcf_path):
    obs = read_vcf(spark, vcf_path).orderBy("position", "observed", "sample_name").collect()
    rows = [(r.chromosome, r.position, r.reference, r.observed, r.sample_name, r.zygosity, r.support) for r in obs]
    # 100 A>G: NA1 het, NA2 hom
    assert ("1", 100, "A", "G", "NA1", "heterozygous", 1) in rows
    assert ("1", 100, "A", "G", "NA2", "homozygous", 1) in rows
    # 200 CAG>CTG (ALT 1) normalizes to 201 A>T, only NA1 (GT 1/2 → het for each)
    assert ("1", 201, "A", "T", "NA1", "heterozygous", 1) in rows
    # 200 CAG>C (ALT 2) normalizes to 201 AG>'' deletion, NA1 het
    assert ("1", 201, "AG", "", "NA1", "heterozygous", 1) in rows
    # no observation for NA2 at 200 (GT 0/0), none for NA1 at 300 (./.)
    assert not any(r[1] == 200 and r[4] == "NA2" for r in rows)
    # chrM → MT; TC>T → 301 C>'' ; NA2 phased 0|1 het
    assert ("MT", 301, "C", "", "NA2", "heterozygous", 1) in rows
    assert len(rows) == 5


def test_read_vcf_pooled(spark, tmp_path):
    p = tmp_path / "pooled.vcf"
    p.write_text(VCF_POOLED)
    rows = {
        (r.chromosome, r.position, r.reference, r.observed): (r.support, r.zygosity)
        for r in read_vcf(spark, str(p)).collect()
    }
    assert rows[("1", 100, "A", "G")] == (3, None)
    assert rows[("1", 100, "A", "T")] == (2, None)
    # T>TA prefix-trims to ''>A at 501; no SF_SUPPORT → default support 1
    assert rows[("2", 501, "", "A")][0] == 1


def test_read_vcf_rejects_ref_eq_alt(spark, tmp_path):
    """Ingest guard: a record whose ALT equals its REF is not a variant and
    must be dropped (the normalizer's output is undefined for ref==obs)."""
    p = tmp_path / "bad.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA1\n"
        "1\t100\t.\tA\tA\t50\tPASS\tDP=1\tGT\t0/1\n"       # ref==alt → drop
        "1\t200\t.\tCAG\tCAG,CTG\t50\tPASS\tDP=1\tGT\t1/2\n"  # drop ALT1, keep ALT2
    )
    rows = [
        (r.position, r.reference, r.observed)
        for r in read_vcf(spark, str(p)).collect()
    ]
    assert rows == [(201, "A", "T")]


def test_read_bed(spark, tmp_path):
    p = tmp_path / "cov.bed"
    p.write_text(BED)
    rows = [(r.chromosome, r.begin, r.end) for r in read_bed(spark, str(p)).orderBy("begin").collect()]
    assert ("1", 91, 250) in rows
    assert ("1", 241, 300) in rows
    assert ("MT", 1, 1000) in rows
    df = read_bed(spark, str(p))
    assert "bin" in df.columns


def test_fasta_validation(spark, tmp_path):
    fa = tmp_path / "ref.fa"
    fa.write_text(">1 test\nAAAAAAAAAA\nCCCCCCCCCC\n>2\nGGGG\n")
    assert region_reader(build_fai(str(fa)))(str(fa), "1", 10, 3) == "ACC"  # pos 10..12 1-based
    obs = spark.createDataFrame(
        [
            ("1", 10, "AC", "A"),   # matches AC at 10,11
            ("1", 10, "T", "A"),    # mismatch
            ("2", 1, "GG", "G"),    # matches
            ("1", 5, "", "T"),      # pure insertion → trivially ok
            ("3", 1, "A", "G"),     # unknown chromosome → quarantine
        ],
        ["chromosome", "position", "reference", "observed"],
    )
    valid, quarantined = quarantine_split(validate_reference(obs, str(fa)))
    assert valid.count() == 3 and quarantined.count() == 2
    with pytest.raises(ValueError, match="gzip"):
        validate_reference(obs, str(tmp_path / "ref.fa.gz"))


def test_read_vcf_wide_samples(spark, tmp_path):
    """1000-Genomes-width stress: 1,000 sample columns must ingest in
    bounded time — the plan is slice+posexplode (constant-size expression
    tree), not one struct per sample column."""
    import time

    n_samples = 1000
    names = [f"S{i:04d}" for i in range(n_samples)]
    header = (
        "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
        + "\t".join(names) + "\n"
    )
    # sample j carries the variant at record i iff (i + j) % 50 == 0; every
    # 10th carrier is homozygous
    recs = []
    for i in range(30):
        gts = [
            ("1/1" if (i + j) % 500 == 0 else "0/1") if (i + j) % 50 == 0 else "0/0"
            for j in range(n_samples)
        ]
        recs.append(f"1\t{100 + i}\t.\tA\tG\t50\tPASS\tDP=9\tGT\t" + "\t".join(gts))
    p = tmp_path / "wide.vcf"
    p.write_text(header + "\n".join(recs) + "\n")

    t0 = time.time()
    obs = read_vcf(spark, str(p))
    got = obs.groupBy("zygosity").count().collect()
    wall = time.time() - t0
    by_z = {r.zygosity: r["count"] for r in got}
    expected_total = sum(1 for i in range(30) for j in range(n_samples) if (i + j) % 50 == 0)
    expected_hom = sum(1 for i in range(30) for j in range(n_samples) if (i + j) % 500 == 0)
    assert by_z.get("homozygous", 0) == expected_hom
    assert by_z.get("heterozygous", 0) == expected_total - expected_hom
    # a per-sample-column codegen tree takes minutes at this width; the
    # slice+explode plan is seconds
    assert wall < 60, f"wide-sample ingest took {wall:.0f}s"
    # spot-check name mapping at both ends of the sample array
    names_seen = {r.sample_name for r in obs.filter(Fn.col("position") == 100).collect()}
    assert {"S0000", "S0050", "S0950"} <= names_seen


def test_faidx_windowed_access(spark, tmp_path):
    """A4 scale path: the .fai index + seek reads only the requested slice —
    whole-file load is asserted NOT to occur via byte accounting."""
    import random

    rng = random.Random(7)
    chr1 = "".join(rng.choice("ACGT") for _ in range(5000))   # 60-col lines
    chr2 = "".join(rng.choice("ACGT") for _ in range(3001))   # 7-col lines, ragged tail
    fa = tmp_path / "multi.fa"
    with open(fa, "w") as f:
        f.write(">1 assembly\n")
        f.write("\n".join(chr1[i : i + 60] for i in range(0, len(chr1), 60)) + "\n")
        f.write(">2\n")
        f.write("\n".join(chr2[i : i + 7] for i in range(0, len(chr2), 7)) + "\n")

    fai = build_fai(str(fa))
    assert fai["1"][0] == 5000 and fai["2"][0] == 3001
    fetch_region = region_reader(fai)
    full = {"1": chr1, "2": chr2}
    for _ in range(50):
        c = rng.choice(["1", "2"])
        start = rng.randint(1, len(full[c]))
        ln = rng.randint(0, 80)
        assert fetch_region(str(fa), c, start, ln) == full[c][start - 1 : start - 1 + ln]
    assert fetch_region(str(fa), "chrX", 1, 5) is None
    assert fetch_region(str(fa), "2", 3001, 10) == chr2[-1]  # clamp at end

    # byte accounting: a 30-base fetch must read ~30 bytes + newlines, not 8 KB
    class CountingFile:
        def __init__(self, path):
            self.f = open(path, "rb")
            self.bytes_read = 0

        def seek(self, n):
            return self.f.seek(n)

        def read(self, n):
            self.bytes_read += n
            return self.f.read(n)

    cf = CountingFile(str(fa))
    got = fetch_region(cf, "1", 101, 30)
    assert got == chr1[100:130]
    assert cf.bytes_read < 40, f"read {cf.bytes_read} bytes for a 30-base slice"
    cf.f.close()

    # Spark path: the validator agrees with the slices above
    obs = spark.createDataFrame(
        [
            ("1", 101, chr1[100:110], "G"),
            ("1", 101, "TTTTTTTTTTT", "G"),
            ("2", 2999, chr2[2998:3001], "A"),
            ("2", 2999, chr2[2998:3001] + "AAAA", "A"),  # runs past the end
            ("1", 5, "", "T"),
            ("chrX", 1, "A", "G"),
        ],
        ["chromosome", "position", "reference", "observed"],
    )
    got = {
        (r.chromosome, r.position, r.reference): r.ref_ok
        for r in validate_reference(obs, str(fa)).collect()
    }
    assert got[("1", 101, chr1[100:110])] is True
    assert got[("1", 101, "TTTTTTTTTTT")] is False
    assert got[("2", 2999, chr2[2998:3001])] is True
    assert got[("2", 2999, chr2[2998:3001] + "AAAA")] is False
    assert got[("1", 5, "")] is True
    assert got[("chrX", 1, "A")] is False


def test_annotated_vcf_roundtrip(spark, tmp_path, vcf_path):
    """Full 3.2 pipeline: VCF → observations → frequency → annotated VCF."""
    from pyspark.sql import Row, functions as F

    obs = read_vcf(spark, vcf_path)
    name_to_id = {"NA1": 1, "NA2": 2}
    mapping = spark.createDataFrame([Row(sample_name=k, sample_id=v) for k, v in name_to_id.items()])
    obs_ids = obs.join(mapping, "sample_name")
    samples = spark.createDataFrame(
        [
            Row(sample_id=1, name="NA1", pool_size=1, coverage_profile=False, public=True, active=True),
            Row(sample_id=2, name="NA2", pool_size=1, coverage_profile=False, public=True, active=True),
        ]
    )
    regions = spark.createDataFrame([], "region_id long, sample_id long, chromosome string, begin long, end long")
    keys = obs.select("chromosome", "position", "reference", "observed").distinct()
    freq = frequency(keys, obs_ids, regions, samples)
    ann = freq.withColumnRenamed("vn", "ALL_vn").withColumnRenamed("vf", "ALL_vf")
    lines = format_annotated_vcf_lines(ann, ["ALL"])
    out = str(tmp_path / "out.vcf")
    write_annotated_vcf(lines, out, ["ALL"])
    text = "\n".join(open(f).read() for f in glob.glob(f"{out}/part-*"))
    assert "##INFO=<ID=ALL_VN" in text
    assert "1\t100\t.\tA\tG\t.\t.\tALL_VN=2;ALL_VF=1.0" in text
    # deletion emitted with '.' for empty allele
    assert "MT\t301\t.\tC\t.\t.\t.\tALL_VN=2;ALL_VF=0.5" in text


def test_write_observations_layout(spark, tmp_path, vcf_path):
    """A5 warehouse layout: chromosome partition dirs exist."""
    obs = read_vcf(spark, vcf_path)
    path = str(tmp_path / "obs_warehouse")
    write_observations(obs, path)
    dirs = {d.split("/")[-1] for d in glob.glob(f"{path}/chromosome=*")}
    assert dirs == {"chromosome=1", "chromosome=MT"}
    back = spark.read.parquet(path)
    assert back.count() == obs.count()


def test_annotate_vcf_one_call(spark, tmp_path, vcf_path):
    """annotate.py end-to-end: two named queries, left-join completeness."""
    import glob as _glob

    from pyspark.sql import Row

    from varda_spark.annotate import annotate_vcf

    samples = spark.createDataFrame(
        [
            Row(sample_id=1, name="NA1", pool_size=1, coverage_profile=False, public=True, active=True),
            Row(sample_id=2, name="NA2", pool_size=1, coverage_profile=False, public=False, active=True),
        ]
    )
    obs = read_vcf(spark, vcf_path).join(
        samples.select(Fn.col("name").alias("sample_name"), "sample_id"), "sample_name"
    )
    regions = spark.createDataFrame([], "sample_id long, chromosome string, begin long, end long")
    out = str(tmp_path / "out.vcf")
    ann = annotate_vcf(
        spark, vcf_path, obs, regions, samples,
        {"ALL": "*", "PUB": "public"}, out,
    ).collect()
    by_key = {(r.chromosome, r.position, r.reference, r.observed): r for r in ann}
    r = by_key[("1", 100, "A", "G")]
    assert r.ALL_vn == 2 and r.ALL_vf == 1.0      # both samples carry A>G
    assert r.PUB_vn == 1 and r.PUB_vf == 1.0      # only NA1 is public
    body = [
        ln for f in _glob.glob(out + "/part-*") for ln in open(f).read().splitlines()
        if ln and not ln.startswith("#")
    ]
    assert any("ALL_VN=2" in ln and "PUB_VN=1" in ln for ln in body)


def test_compact_warehouse(spark, tmp_path, vcf_path):
    """A5 maintenance: compaction collapses many small files per partition
    dir into few, preserving every row."""
    import glob as g

    from varda_spark.sources.sinks import compact_warehouse

    obs = read_vcf(spark, vcf_path).repartition(8)  # force many small files
    path = str(tmp_path / "wh")
    obs.write.mode("overwrite").partitionBy("chromosome").parquet(path)
    files_before = len(g.glob(f"{path}/chromosome=*/part-*.parquet"))
    before = {tuple(r) for r in spark.read.parquet(path).collect()}
    n = compact_warehouse(spark, path, files_per_bucket=2)
    files_after = len(g.glob(f"{path}/chromosome=*/part-*.parquet"))
    assert n == len(before)
    assert files_after < files_before
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == before


def test_compact_warehouse_crash_recovery(spark, tmp_path, vcf_path):
    """A5 swap discipline: a crash at EVERY step of compact_warehouse's
    rename swap leaves a readable table, and recover_compaction restores
    the live path. Simulated by reconstructing each intermediate on-disk
    state the swap can crash in (after __new write; between the two
    renames; after the second rename with __old not yet dropped)."""
    import os
    import shutil

    from varda_spark.sources.sinks import compact_warehouse, recover_compaction

    obs = read_vcf(spark, vcf_path).repartition(4)
    path = str(tmp_path / "wh")
    obs.write.mode("overwrite").partitionBy("chromosome").parquet(path)
    want = {tuple(r) for r in spark.read.parquet(path).collect()}

    # state 1: crash right after __new was written — live dir untouched
    shutil.copytree(path, path + "__new")
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == want
    assert recover_compaction(path) == "live"
    assert not os.path.exists(path + "__new")

    # state 2: crash between the two renames — only __old exists
    os.rename(path, path + "__old")
    assert recover_compaction(path) == "restored_old"
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == want

    # state 3: crash after the second rename — live new dir + stale __old
    shutil.copytree(path, path + "__old")
    assert recover_compaction(path) == "live"
    assert not os.path.exists(path + "__old")
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == want

    # and a real compaction still works after all that, clearing leftovers
    shutil.copytree(path, path + "__new")  # stale junk from a "crash"
    n = compact_warehouse(spark, path, files_per_bucket=2)
    assert n == len(want)
    assert {tuple(r) for r in spark.read.parquet(path).collect()} == want
    assert not os.path.exists(path + "__new") and not os.path.exists(path + "__old")


def test_read_documents_jsonl_and_csv(spark, tmp_path):
    """A-family breadth: JSONL (with corrupt-line quarantine) and CSV land
    in the same (doc_id, lang, text) shape as the documents table."""
    from varda_spark.sources.textfiles import read_documents_csv, read_documents_jsonl

    jl = tmp_path / "docs.jsonl"
    jl.write_text(
        '{"doc_id": 1, "lang": "en", "text": "hello world"}\n'
        "this is not json\n"
        '{"doc_id": 2, "lang": "fr", "text": "bonjour, \\"monde\\""}\n'
    )
    good, bad = read_documents_jsonl(spark, str(jl))
    rows = {r.doc_id: (r.lang, r.text) for r in good.collect()}
    assert rows == {1: ("en", "hello world"), 2: ("fr", 'bonjour, "monde"')}
    assert bad.count() == 1

    cv = tmp_path / "docs.csv"
    cv.write_text('doc_id,lang,text\n1,en,"hello, quoted ""world"""\n2,de,plain\n')
    out = {r.doc_id: (r.lang, r.text) for r in read_documents_csv(spark, str(cv)).collect()}
    assert out == {1: ("en", 'hello, quoted "world"'), 2: ("de", "plain")}

    # downstream operators run unchanged on the ingested shape
    from varda_spark.operators.dedup import dedup_exact

    assert dedup_exact(good).count() == 2
