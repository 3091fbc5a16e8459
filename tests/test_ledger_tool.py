"""tools/ledger.py generates LEDGER.md and the README coverage block — pin
its invariants: every REGISTRY key gets exactly one row, placement buckets
are disjoint-and-exhaustive, the committed files match a fresh regeneration,
the driver history keeps certified and red keys apart, sweep
FAILURE lines parse into verdicts (ADVICE r9 medium: they used to be
silently dropped, overstating certification), and the latest-sweep choice
is deterministic by round number, not file mtime.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import ledger  # noqa: E402

from varda_spark.catalog import REGISTRY  # noqa: E402


def test_ledger_rows_cover_registry_exactly():
    rows, hist, sweep_name, sweep, smoke_name = ledger.build_rows()
    assert [r["key"] for r in rows] == list(REGISTRY)
    for r in rows:
        assert r["twin"] in ("oracle", "rows-only")
        assert r["driver"]  # never empty


def test_ledger_placement_buckets_are_sound():
    rows, hist, *_ = ledger.build_rows()
    s = ledger.summary(rows, hist, "x.log", {})
    # every key sits in exactly one placement bucket: latest driver sample
    # green or red, in the live window, or never driver-sampled
    assert (
        s["driver_certified"]
        + len(s["driver_red_latest"])
        + s["live_window"]
        + len(s["never_sampled"])
        == s["total"]
    )
    assert s["never_sampled"] == [
        r["key"] for r in rows if r["driver"] == "never sampled"
    ]
    assert s["driver_red_latest"] == []


def test_ledger_and_readme_match_fresh_regeneration():
    """`tools/ledger.py --check`: LEDGER.md and the README block must be
    regenerated whenever their inputs (REGISTRY, CORRECTNESS files,
    sweeps, PLANS.md) change."""
    assert ledger.check() == []


def test_driver_history_redness_rules():
    hist = ledger.driver_history()
    # every certified key must still exist in the registry (stale
    # CORRECTNESS keys would silently misalign the close-out table)
    missing = [k for k in hist if k not in REGISTRY]
    assert missing == []
    # statuses are from the closed vocabulary
    assert {s for _, s in hist.values()} <= {"green", "hash-fail", "err"}


def test_sweep_parser_captures_failures(tmp_path, monkeypatch):
    """A synthetic log with every check_oracle failure shape must parse
    into verdicts — not vanish as '—' (the ADVICE r9 medium)."""
    sweeps = tmp_path / "sweeps"
    sweeps.mkdir()
    keys = list(REGISTRY)[:6]
    log = sweeps / "r99_open.log"
    # pad with EXACT lines for the rest of the registry so the log
    # clears latest_sweep's >=50%-coverage sweep signature (ADVICE r11)
    pad = "".join(
        f"{k:24s} EXACT  rows=1  (0.1s)\n" for k in list(REGISTRY)[6:]
    )
    log.write_text(
        f"{keys[0]:24s} EXACT  rows=16  (1.0s)\n"
        f"{keys[1]:24s} FAIL MISMATCH  rows=3  (1.0s)\n"
        f"{keys[2]:24s} SPARK-ERROR AnalysisException: boom\n"
        f"{keys[3]:24s} DUCK-ERROR BinderException: boom\n"
        f"{keys[4]:24s} FAIL ARRAY-OUTPUT cols=['e'] (driver cannot canonicalize)\n"
        f"{keys[5]:24s} rows-only   rows=7  (0.2s)\n"
        "26/08/15 20:00:00 WARN WindowExec: noise line with } brace\n"
        + pad
    )
    monkeypatch.setattr(ledger, "ROOT", str(tmp_path))
    name, verdicts = ledger.latest_sweep()
    assert name == "r99_open.log"
    assert verdicts[keys[0]] == "EXACT"
    assert verdicts[keys[1]] == "FAIL MISMATCH"
    assert verdicts[keys[2]] == "SPARK-ERROR"
    assert verdicts[keys[3]] == "DUCK-ERROR"
    assert verdicts[keys[4]] == "FAIL ARRAY-OUTPUT"
    assert verdicts[keys[5]] == "rows-only"
    # and the summary surfaces the failures as a separate count
    rows = [
        {"key": k, "twin": "oracle", "driver": "r1 green",
         "local": verdicts.get(k, "—"), "smoke": "—", "plan": "—"}
        for k in keys
    ]
    s = ledger.summary(rows, {k: (1, "green") for k in keys}, name, verdicts)
    assert s["sweep_failed"] == sorted(keys[1:5])
    assert s["sweep_exact"] == 1
    assert s["sweep_checked"] == 5  # rows-only excluded from the hash denominator


def test_latest_sweep_order_is_round_then_suffix_not_mtime(tmp_path, monkeypatch):
    """On a fresh clone all logs share mtime; the pick must still be the
    highest round's latest suffix (ADVICE r9 low)."""
    sweeps = tmp_path / "sweeps"
    sweeps.mkdir()
    key = list(REGISTRY)[0]
    pad = "".join(
        f"{k:24s} EXACT  rows=1  (0.1s)\n" for k in list(REGISTRY)[1:]
    )
    for name, verdict in [
        ("r9_final.log", "EXACT"),
        ("r10_open.log", "EXACT"),
        ("r10_close.log", "FAIL MISMATCH"),
        ("r2_open.log", "EXACT"),
    ]:
        (sweeps / name).write_text(
            f"{key:24s} {verdict}  rows=1  (0.1s)\n" + pad
        )
    # identical mtimes for all
    import os

    for p in sweeps.iterdir():
        os.utime(p, (1000000000, 1000000000))
    monkeypatch.setattr(ledger, "ROOT", str(tmp_path))
    name, verdicts = ledger.latest_sweep()
    assert name == "r10_close.log"
    assert verdicts[key] == "FAIL MISMATCH"


def test_latest_sweep_skips_partial_log_from_later_round(tmp_path, monkeypatch):
    """ADVICE r11: a truncated/partial log with a later round prefix
    must NOT shadow the real full sweep — it would silently shrink the
    certification denominator. The picker requires verdicts for >=50%
    of REGISTRY keys and falls back to the next-newest log."""
    sweeps = tmp_path / "sweeps"
    sweeps.mkdir()
    keys = list(REGISTRY)
    full = "".join(f"{k:24s} EXACT  rows=1  (0.1s)\n" for k in keys)
    (sweeps / "r10_close.log").write_text(full)
    # later-round log with only 3 verdicts (a partial/truncated write)
    (sweeps / "r11_open.log").write_text(
        "".join(f"{k:24s} EXACT  rows=1  (0.1s)\n" for k in keys[:3])
    )
    monkeypatch.setattr(ledger, "ROOT", str(tmp_path))
    name, verdicts = ledger.latest_sweep()
    assert name == "r10_close.log"
    assert len(verdicts) == len(keys)
