import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from varda_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


SF_SMALL = "/root/testdata/sf0.001"


def jobs_of(sc, label: str, call):
    """Run ``call()`` under its own job group; returns (result, jobs)."""
    import uuid

    group = f"{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, label)
    try:
        out = call()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="session")
def tiny_warehouse(spark, tmp_path_factory):
    """A seeded two-sample warehouse (one sample with BED coverage and
    public, one bare and private), every sample imported and active, and
    the generator's inputs."""
    from perfbench import gen
    from varda_spark.api import VardaWarehouse

    work = tmp_path_factory.mktemp("tiny_wh")
    inputs = gen.generate(str(work / "in"), 1, n_samples=2, n_sites=300)
    wh = VardaWarehouse(spark, str(work / "wh"))
    for s in inputs.samples:
        sid = wh.create_sample(s.name, public=s.public)
        wh.import_variation(sid, s.vcf)
        if s.bed:
            wh.import_coverage(sid, s.bed)
        wh.activate_sample(sid)
    return wh, inputs
