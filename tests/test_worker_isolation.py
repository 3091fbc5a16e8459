"""Executor code ships by value: Spark's Python workers never import
``varda_spark``.

A Python worker imports only what its environment provides. Started from
the repository root it finds the package in its working directory, so a
kernel whose executor function is a module-level helper (cloudpickle ships
those by reference) passes there and fails anywhere else with
``ModuleNotFoundError: No module named 'varda_spark'``. This test
materializes one key per executor-code family in a subprocess whose
working directory is outside the checkout and whose ``PYTHONPATH`` does
not name it: only the driver puts the package on its ``sys.path``. The
same subprocess also runs the reference validator, whose pandas UDF
seek-reads a FASTA on the workers.
"""

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMALL

ROOT = Path(__file__).resolve().parents[1]

KEYS = [
    "sim_kmeans",           # similarity: _lloyd, _assign_cells (L2)
    "emb_semantic_dedup",   # similarity: _assign_cells (dot), cell stats
    "sim_pq_adc_topk",      # similarity: PQ encoder, _probe_topk score
    "dedup_minhash",        # dedup: MinHash banding
    "graph_jaccard",        # graph pair generation
    "text_compress_ratio",  # text UDF: zlib in a mapInPandas
]

SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from varda_spark.catalog import REGISTRY
from varda_spark.session import get_spark

spark = get_spark("worker-isolation", shuffle_partitions=4)
for key in {keys!r}:
    REGISTRY[key].fn(spark, {sf!r}).write.format("noop").mode("overwrite").save()
    print("ran", key, flush=True)
from varda_spark.sources.genome import quarantine_split, validate_reference
obs = spark.createDataFrame(
    [("1", 10, "AC"), ("1", 10, "T"), ("2", 1, "GG"), ("1", 5, ""), ("3", 1, "A")],
    ["chromosome", "position", "reference"],
)
valid, quarantined = quarantine_split(validate_reference(obs, {fasta!r}))
print("validated", valid.count(), quarantined.count(), flush=True)
spark.stop()
"""


def test_keys_run_with_the_package_on_the_driver_only(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != ROOT
    )
    fasta = tmp_path / "ref.fa"
    fasta.write_text(">1 test\nAAAAAAAAAA\nCCCCCCCCCC\n>2\nGGGG\n")
    script = SCRIPT.format(root=str(ROOT), keys=KEYS, sf=SF_SMALL, fasta=str(fasta))
    r = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )
    ran = [line.split()[1] for line in r.stdout.splitlines() if line.startswith("ran ")]
    assert r.returncode == 0 and ran == KEYS, (ran, r.stderr[-4000:])
    assert "validated 3 2" in r.stdout.splitlines(), r.stderr[-4000:]
