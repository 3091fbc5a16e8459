"""Self-tests for the benchmark's own arithmetic (no Spark needed).

Run: python3 -m pytest perfbench -q
"""

import filecmp
import os

import pytest

from perfbench import gen
from perfbench.spark_status import node_type, parse_metric
from perfbench.trace import Span, percentile, self_time, summarize, tail_percentile


@pytest.mark.parametrize(
    "n, p",
    [(0, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
     (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_percentile_interpolates_between_order_statistics():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 25) == pytest.approx(1.75)


def test_summarize_reports_count_and_tail_the_count_supports():
    assert summarize([]) == {"n": 0}
    s = summarize([float(x) for x in range(1, 41)])
    assert (s["n"], s["median"], s["tail_p"]) == (40, 20.5, 75.0)


def _span(i, start, end, parent=None):
    return Span(i, "s", parent, start, end)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1, 5] and [8, 10] -> 6 of 10
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [_span(4, 0.0, 10.0, 0), _span(5, 3.0, 4.0, 0)]) == pytest.approx(0.0)


def test_parse_metric_reads_totals_in_base_units():
    assert parse_metric("1,234") == 1234
    assert parse_metric("914 ms") == pytest.approx(0.914)
    assert parse_metric("1.8 s") == pytest.approx(1.8)
    assert parse_metric("2.5 m") == pytest.approx(150.0)
    assert parse_metric("256.0 KiB") == 256 * 1024
    multi = "total (min, med, max (stageId: taskId))\n3.2 s (10 ms, 1.0 s, 2.0 s (stage 3.0: task 12))"
    assert parse_metric(multi) == pytest.approx(3.2)


def test_node_type_strips_detail_and_execute_prefix():
    assert node_type("Scan parquet ") == "Scan"
    assert node_type("WholeStageCodegen (3)") == "WholeStageCodegen"
    assert node_type("Execute InsertIntoHadoopFsRelationCommand") == "InsertIntoHadoopFsRelationCommand"


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, n_samples=3, n_sites=300)
    b = gen.generate(str(tmp_path / "b"), 7, n_samples=3, n_sites=300)
    c = gen.generate(str(tmp_path / "c"), 8, n_samples=3, n_sites=300)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    assert "S000.bed" in names and "S001.bed" not in names  # every other sample
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert [s.public for s in a.samples] == [s.public for s in b.samples]
    assert not filecmp.cmp(a.samples[0].vcf, c.samples[0].vcf, shallow=False)


VCF_HEADER = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{}\n"


def _write(path, text):
    path.write_text(text)
    return str(path)


def test_reference_on_hand_built_three_sample_case(tmp_path):
    # A and B as in tests/test_api.py; C adds overlapping regions, a
    # multi-allelic site and an observation outside its own coverage.
    va = _write(tmp_path / "a.vcf", VCF_HEADER.format("A")
                + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t0/1\n"
                + "chr1\t300\t.\tC\tT\t50\tPASS\t.\tGT\t1/1\n")
    vb = _write(tmp_path / "b.vcf", VCF_HEADER.format("B")
                + "chr1\t100\t.\tA\tG\t50\tPASS\t.\tGT\t1/1\n")
    vc = _write(tmp_path / "c.vcf", VCF_HEADER.format("C")
                + "chr1\t300\t.\tC\tT\t50\tPASS\t.\tGT\t0/1\n"
                + "chr1\t500\t.\tG\tA,T\t50\tPASS\t.\tGT\t1/2\n")
    ba = _write(tmp_path / "a.bed", "chr1\t50\t200\n")
    bc = _write(tmp_path / "c.bed", "chr1\t90\t110\nchr1\t250\t350\nchr1\t280\t320\n")
    q = _write(tmp_path / "q.vcf", "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
               + "chr1\t100\t.\tA\tG\t50\tPASS\t.\n"
               + "chr1\t300\t.\tC\tT\t50\tPASS\t.\n"
               + "chr1\t500\t.\tG\tA,T\t50\tPASS\t.\n"
               + "chr1\t700\t.\tA\tC\t50\tPASS\t.\n")
    inputs = gen.Inputs(
        (gen.Sample("A", True, va, ba), gen.Sample("B", False, vb, None), gen.Sample("C", False, vc, bc)),
        q,
    )
    ref = gen.reference(inputs)

    assert ref.obs_rows == {"A": 2, "B": 1, "C": 3}
    assert ref.region_rows == {"A": 1, "C": 3}
    assert gen.observations(va)[("1", 300, "C", "T")] == "homozygous"
    assert gen.observations(vc)[("1", 500, "G", "A")] == "heterozygous"
    # 100: A and C cover it, B looks everywhere; A and B carry it
    assert ref.frequency[("1", 100, "A", "G")] == (3, 2, 2 / 3)
    # 300: B and C (overlapping regions count once) look; A is uncovered
    # there but its observation still counts in VC
    assert ref.frequency[("1", 300, "C", "T")] == (2, 2, 1.0)
    assert ref.frequency[("1", 500, "G", "A")] == (1, 1, 1.0)
    assert ref.frequency[("1", 500, "G", "T")] == (1, 1, 1.0)
    assert len(ref.frequency) == 4
    # annotate: ALL is everyone, PUB is A alone; VF is 0.0 where VN is 0
    assert ref.annotate[("1", 100, "A", "G")] == (3, 2 / 3, 1, 1.0)
    assert ref.annotate[("1", 300, "C", "T")] == (2, 1.0, 0, 0.0)
    assert ref.annotate[("1", 500, "G", "T")] == (1, 1.0, 0, 0.0)
    assert ref.annotate[("1", 700, "A", "C")] == (1, 0.0, 0, 0.0)
    assert len(ref.annotate) == 5


class _FakeSC:
    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass


class _FakeReader:
    def execution_mark(self):
        return 0

    def jobs(self, groups):
        return {}

    def stages(self, stage_ids, with_tasks=False):
        return {}


class _Raising:
    def run_pass(self, spark, tracer, i):
        raise RuntimeError("import failed")

    def after_pass(self, result):
        return {}


def test_a_raising_pass_is_recorded_as_one_failed_operation():
    from perfbench.run import run_one
    from perfbench.trace import Tracer

    rec = run_one(_Raising(), None, Tracer(_FakeSC(), detail=False), _FakeReader(), 0, False)
    assert (rec["attempted"], rec["failed"]) == (1, 1)
    assert rec["wall_s"] >= 0 and rec["cpu_s"] == 0 and rec["shuffle_bytes"] == 0
