"""Frequency-core golden tests on handcrafted genomic micro-fixtures.

Implements FIXTURES.md §B's must-cover scenarios with hand-computed
VN/VC/VF (the reference's test pattern: tiny fixtures, exact expected
values — varda tests/test_api.py [P]).

Fixture design:
  samples: s1 (individual, covered via regions), s2 (pooled 10, covered),
           s3 (no coverage profile → counted everywhere), s4 (inactive),
           s5 (individual, NO covering region at locus B)
  regions: s1 covers 1:[100,200] twice (overlapping → count once),
           s2 covers 1:[150,300], s5 covers 1:[100,120] only
  observations:
    locus A = 1:160 A>G : s1 het support 1; s2 pooled support 3;
              s4 (inactive) support 1 → must NOT count
    locus B = 1:400 C>T : s5 support 1 (no covering region at 400!)
Expected (selection=*, actives only):
  VN(A) = pool(s1)+pool(s2) [covered] + pool(s3) [unconditional] = 1+10+1 = 12
  VC(A) = 1 + 3 = 4 ; VF = 4/12
  VN(B) = pool(s3) = 1 (s5 covers only [100,120])
  VC(B) = 1 ; VF = 1.0  — numerator-without-denominator-membership is
  KEPT (we count the observation even though its sample isn't in VN;
  documented engine decision, matching varda's independent num/denom
  queries [P]).
"""

import pytest
from pyspark.sql import Row, functions as F

from varda_spark.annotate import annotate_keys
from varda_spark.expressions import compile_selection
from varda_spark.frequency import frequency


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    samples = spark.createDataFrame(
        [
            Row(sample_id=1, name="s1", pool_size=1, coverage_profile=True, public=True, active=True),
            Row(sample_id=2, name="s2", pool_size=10, coverage_profile=True, public=False, active=True),
            Row(sample_id=3, name="s3", pool_size=1, coverage_profile=False, public=True, active=True),
            Row(sample_id=4, name="s4", pool_size=1, coverage_profile=True, public=True, active=False),
            Row(sample_id=5, name="s5", pool_size=1, coverage_profile=True, public=True, active=True),
        ]
    )
    regions = spark.createDataFrame(
        [
            Row(region_id=1, sample_id=1, chromosome="1", begin=100, end=200),
            Row(region_id=2, sample_id=1, chromosome="1", begin=150, end=250),  # overlap, same sample
            Row(region_id=3, sample_id=2, chromosome="1", begin=150, end=300),
            Row(region_id=4, sample_id=4, chromosome="1", begin=1, end=1000),  # inactive sample
            Row(region_id=5, sample_id=5, chromosome="1", begin=100, end=120),
        ]
    )
    observations = spark.createDataFrame(
        [
            Row(obs_id=1, sample_id=1, chromosome="1", position=160, reference="A", observed="G",
                zygosity="heterozygous", support=1),
            Row(obs_id=2, sample_id=2, chromosome="1", position=160, reference="A", observed="G",
                zygosity=None, support=3),
            Row(obs_id=3, sample_id=4, chromosome="1", position=160, reference="A", observed="G",
                zygosity="homozygous", support=1),  # inactive → ignored
            Row(obs_id=4, sample_id=5, chromosome="1", position=400, reference="C", observed="T",
                zygosity="heterozygous", support=1),
        ]
    )
    keys = spark.createDataFrame(
        [
            Row(chromosome="1", position=160, reference="A", observed="G"),
            Row(chromosome="1", position=400, reference="C", observed="T"),
            Row(chromosome="1", position=999, reference="G", observed="A"),  # never observed
        ]
    )
    return samples, regions, observations, keys


def _freq_map(df):
    return {(r.chromosome, r.position): (r.vn, r.vc, round(r.vf, 9)) for r in df.collect()}


def test_frequency_core(spark, fixture_dfs):
    samples, regions, observations, keys = fixture_dfs
    out = frequency(keys, observations, regions, samples)
    m = _freq_map(out)
    assert m[("1", 160)] == (12, 4, round(4 / 12, 9))
    assert m[("1", 400)] == (1, 1, 1.0)
    # never-observed key still gets a row (C5 left-join semantics): VC=0
    assert m[("1", 999)] == (1, 0, 0.0)


def test_frequency_selection_dsl(spark, fixture_dfs):
    samples, regions, observations, keys = fixture_dfs
    # only public samples: s1 (cov), s3 (uncond); s2 excluded
    out = frequency(keys, observations, regions, samples, compile_selection("public"))
    m = _freq_map(out)
    assert m[("1", 160)] == (2, 1, 0.5)  # VN = s1 + s3, VC = s1's 1


def test_frequency_zygosity_split(spark, fixture_dfs):
    samples, regions, observations, keys = fixture_dfs
    out = frequency(keys, observations, regions, samples, split_zygosity=True)
    r = {(x.chromosome, x.position): x for x in out.collect()}[("1", 160)]
    assert r.vc_het == 1 and r.vc_hom == 0


# Degenerate dimensions (aim 3): (selection, change to the fixture's
# samples, expected {(chromosome, position): (VN, VC, VF)}). Every key keeps
# its row; a NULL pool_size counts 0, as SQL SUM does.
DEGENERATE = {
    "no_active_sample": ("*", lambda s: s.withColumn("active", F.lit(False)),
                         {("1", 160): (0, 0, 0.0), ("1", 400): (0, 0, 0.0), ("1", 999): (0, 0, 0.0)}),
    "selection_matches_nobody": ("sample:NOPE", lambda s: s,
                                 {("1", 160): (0, 0, 0.0), ("1", 400): (0, 0, 0.0), ("1", 999): (0, 0, 0.0)}),
    # no selected sample has a coverage profile: the covered table is empty
    "no_covered_sample": ("*", lambda s: s.withColumn("coverage_profile", F.lit(False)),
                          {("1", 160): (13, 4, round(4 / 13, 9)), ("1", 400): (13, 1, round(1 / 13, 9)),
                           ("1", 999): (13, 0, 0.0)}),
    "null_pool_unconditional": ("*", lambda s: s.withColumn(
        "pool_size", F.when(F.col("sample_id") != 3, F.col("pool_size"))),
        {("1", 160): (11, 4, round(4 / 11, 9)), ("1", 400): (0, 1, 0.0), ("1", 999): (0, 0, 0.0)}),
    "null_pool_covered": ("*", lambda s: s.withColumn(
        "pool_size", F.when(F.col("sample_id") != 2, F.col("pool_size"))),
        {("1", 160): (2, 4, 2.0), ("1", 400): (1, 1, 1.0), ("1", 999): (1, 0, 0.0)}),
}


@pytest.mark.parametrize("case", list(DEGENERATE))
def test_frequency_degenerate_dimension(spark, fixture_dfs, case):
    samples, regions, observations, keys = fixture_dfs
    text, change, want = DEGENERATE[case]
    out = frequency(keys, observations, regions, change(samples), compile_selection(text))
    assert _freq_map(out) == want


def test_dimension_size_adds_no_py4j_commands(spark, fixture_dfs, monkeypatch):
    """Each selection's id set reaches the JVM in one command, so building
    over a 10,000-sample dimension sends no more Py4J commands than over a
    10-sample one (``Column.isin`` would send one per id). Memory commands
    are not counted: they free the Java side of Python objects that died,
    whenever Python's garbage collector happens to run."""
    from varda_spark.frequency import frequencies
    from varda_spark.session import local_table

    _, regions, observations, keys = fixture_dfs
    ddl = "sample_id bigint, name string, pool_size int, coverage_profile boolean, public boolean, active boolean"
    dims = {
        n: local_table(spark, [
            {"sample_id": i, "name": f"s{i}", "pool_size": 1, "coverage_profile": i % 2 == 0,
             "public": i % 3 == 0, "active": True}
            for i in range(1, n + 1)
        ], ddl)
        for n in (10, 10_000)
    }
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    counts = []
    for n in (10, 10_000, 10):  # the first build warms up; compare the others
        sent.clear()
        frequencies(keys, observations, regions, dims[n], {"all": F.lit(True), "pub": F.col("public")})
        counts.append(len(sent))
    assert counts[1] <= counts[2] + 2, counts


def test_trio_mendel_rule_matches_transmission_enumeration(spark):
    """The interval rule (child dosage in [#hom parents, #parents with an
    alt]) must equal the exhaustive transmission model for all 27
    genotype combinations, and the operator's per-trio output must be
    internally consistent on the shipped data."""
    def possible(p):
        return {0} if p == 0 else ({0, 1} if p == 1 else {1})

    for f in (0, 1, 2):
        for m in (0, 1, 2):
            for c in (0, 1, 2):
                legal = c in {a + b for a in possible(f) for b in possible(m)}
                mn = (f == 2) + (m == 2)
                mx = (f >= 1) + (m >= 1)
                rule_viol = c < mn or c > mx
                assert rule_viol == (not legal), (f, m, c)

    from varda_spark import catalog

    rows = catalog.freq_trio_mendel(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_violations <= r.n_sites
        assert 0 <= r.violation_ppm <= 1000000


# ---- annotation queries against a plain-Python reference -------------------
QUERIES = {"all": "*", "pub": "public", "nobody": "sample:nobody", "off": "sample:s4"}
PREDICATES = {
    "all": lambda s: True,
    "pub": lambda s: s.public,
    "nobody": lambda s: False,
    "off": lambda s: s.name == "s4",  # the inactive sample only
}


def _reference(keys, observations, regions, samples, pred):
    """key -> (vn, vf) by direct enumeration over collected rows."""
    sel = [s for s in samples if s.active and pred(s)]
    ids = {s.sample_id for s in sel}
    out = {}
    for k in {(k.chromosome, k.position, k.reference, k.observed) for k in keys}:
        vn = sum(
            s.pool_size for s in sel
            if not s.coverage_profile
            or any(r.sample_id == s.sample_id and r.chromosome == k[0] and r.begin <= k[1] <= r.end
                   for r in regions)
        )
        vc = sum(o.support for o in observations
                 if o.sample_id in ids and (o.chromosome, o.position, o.reference, o.observed) == k)
        out[k] = (vn, vc / vn if vn else 0.0)
    return out


def _by_key(df):
    return {(r.chromosome, r.position, r.reference, r.observed): r for r in df.collect()}


def test_annotate_matches_python_reference(spark, fixture_dfs):
    """Degenerate selections (no active match; only the inactive sample),
    overlapping regions of one sample, a never-observed key and duplicate
    input keys, all against direct enumeration."""
    samples, regions, observations, keys = fixture_dfs
    dup_keys = keys.unionByName(keys)
    got = _by_key(annotate_keys(dup_keys, observations, regions, samples, QUERIES))
    assert len(got) == keys.count()  # duplicates collapse to one row per key
    rows = [x.collect() for x in (keys, observations, regions, samples)]
    for name, pred in PREDICATES.items():
        want = _reference(*rows, pred)
        have = {k: (r[f"{name}_vn"], r[f"{name}_vf"]) for k, r in got.items()}
        assert have == want, name  # the same IEEE division on both sides
    a = ("1", 160, "A", "G")
    assert got[a].all_vn == 12  # s1's two overlapping regions count once
    for k, r in got.items():
        assert (r.nobody_vn, r.nobody_vf, r.off_vn, r.off_vf) == (0, 0.0, 0, 0.0), k
    assert got[("1", 999, "G", "A")].all_vf == 0.0  # no sample observed it


def test_annotate_without_queries_returns_distinct_keys(tiny_warehouse):
    from perfbench import gen

    wh, inputs = tiny_warehouse
    out = wh.annotate(inputs.query_vcf, {})
    assert out.columns == ["chromosome", "position", "reference", "observed"]
    rows = [tuple(r) for r in out.collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == gen.query_keys(inputs.query_vcf)


def test_fused_queries_equal_single_query_calls(spark, fixture_dfs):
    samples, regions, observations, keys = fixture_dfs
    three = {"all": "*", "pub": "public", "big": "pooled"}
    fused = annotate_keys(keys, observations, regions, samples, three)
    got = _by_key(fused)
    for name, text in three.items():
        single = annotate_keys(keys, observations, regions, samples, {name: text})
        cols = [f"{name}_vn", f"{name}_vf"]
        assert [fused.schema[c] for c in cols] == [single.schema[c] for c in cols]
        for k, r in _by_key(single).items():
            assert (got[k][cols[0]], got[k][cols[1]]) == (r[cols[0]], r[cols[1]]), (name, k)
