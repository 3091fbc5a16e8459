"""The warehouse scratch sweep must remove every scratch table a catalog key
writes once it is stale, and leave fresh ones (a live session's) alone.

The stems are read from the catalog source as well as from
``_SCRATCH_STEMS``, so a key that writes a new scratch table without
listing it fails here instead of leaking a directory per session.
"""

import inspect
import os
import re
import time

from varda_spark import catalog


def test_sweep_removes_aged_scratch_for_every_stem(tmp_path, monkeypatch):
    written = set(
        re.findall(r'_scratch_table\(\s*spark,\s*"(\w+)"\)', inspect.getsource(catalog))
    )
    assert {"bkt_orders", "dpp_orders", "schev_orders"} <= written
    stems = written | set(catalog._SCRATCH_STEMS)
    monkeypatch.setattr(catalog, "_WAREHOUSE", str(tmp_path))
    old = time.time() - 7 * 3600
    for stem in stems:
        for age, suffix in ((old, "local_1"), (None, "local_2")):
            d = tmp_path / f"{stem}_{suffix}"
            (d / "part=1").mkdir(parents=True)
            (d / "part=1" / "x.parquet").write_bytes(b"x")
            if age is not None:
                os.utime(d, (age, age))
    keep = tmp_path / "not_scratch_local_1"
    keep.mkdir()
    os.utime(keep, (old, old))

    catalog._sweep_stale_scratch()

    left = sorted(p.name for p in tmp_path.iterdir())
    assert left == sorted([keep.name] + [f"{stem}_local_2" for stem in stems])


def test_scratch_table_names_are_session_scoped(spark):
    name, path = catalog._scratch_table(spark, "dpp_orders")
    assert name.startswith("dpp_orders_") and name != "dpp_orders_"
    assert path == os.path.join(catalog._WAREHOUSE, name)
