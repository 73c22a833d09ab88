"""The driver-head rotation is machine-checked, not hand-frozen: the
standing convention (previous round's batched additions in registration
order, then oldest-vintage greens alphabetical with vintage spill) must
hold for the CURRENT PRIORITY_HEAD against the CORRECTNESS_r*.json
record, and the derivation must reproduce the next-round freeze written
in the registry comment. A deliberately corrupted head must FAIL, so the
checker itself is checked.

If a future round legitimately deviates from the convention (e.g. a
judge-ratified exception), this test is the forcing function: update
the convention in tools/rotation.py alongside the registry comment.
"""

from __future__ import annotations

from tools.rotation import HEAD_SIZE, derive_head, latest_vintage, verify


def test_current_head_obeys_the_rotation_convention():
    assert verify() == []


def test_current_head_is_the_frozen_round16_plan():
    """The round-16 head is the pin-free derivation made once
    CORRECTNESS_r15.json landed: no batched additions, so the fill leads
    with the two r8 greens the round-15 pins displaced, retires the r8
    vintage (32 names) and fills with the alphabetically-first 18 r9
    greens. The round-15 pins carry r15 vintage and are absorbed."""
    from bigdata_2025_1_spark.registry import PRIORITY_HEAD, PRIORITY_PINS

    head = list(PRIORITY_HEAD)
    assert len(head) == HEAD_SIZE
    assert PRIORITY_PINS == ()
    assert head[:2] == ["domain_doc_stats", "eb_shrunk_supplier_rates"]
    assert head[31] == "wordcount"
    assert head[32] == "ann_topk_cosine"
    assert head[49] == "events_hourly_windows"
    assert "lsh_band_sweep" not in head
    assert "dedup_release_gate" not in head


def test_next_head_retires_the_r9_vintage():
    """Re-derive the round-17 head: no batched additions, no overlap with
    the current head, the 32 remaining r9 greens alphabetical, then the
    first 18 r10 greens."""
    from bigdata_2025_1_spark.registry import PRIORITY_HEAD, all_queries

    latest = dict(latest_vintage())
    this_round = max(r for r, _ in latest.values()) + 1
    for n in PRIORITY_HEAD:
        latest[n] = (this_round, True)
    additions = [n for n in all_queries() if n not in latest]
    nxt = derive_head(additions, latest)
    assert len(nxt) == HEAD_SIZE
    assert additions == []
    assert not set(nxt) & set(PRIORITY_HEAD)
    assert nxt[0] == "events_sliding_windows"
    assert nxt[31] == "zorder_layout_cells"
    assert nxt[32] == "ann_ivf_topk"


def test_derive_head_places_pins_after_prefix_and_skips_them_in_fill():
    latest = {
        "pinned": (1, True),
        "old_a": (1, True),
        "old_b": (1, True),
    }
    got = derive_head(["add1"], latest, ["pinned"])
    assert got[:4] == ["add1", "pinned", "old_a", "old_b"]
    assert got.count("pinned") == 1


def test_verify_accepts_the_post_driver_window():
    """Once the driver writes this round's CORRECTNESS file (key set ==
    the head), the un-rotated head must STILL verify — this is the
    lifecycle window that was red at round-13 judge time. Simulate it:
    pretend the newest CORRECTNESS file covers exactly the current
    head."""
    import tools.rotation as rot

    rounds = rot.rounds_census()
    head, _, _ = rot._registry()
    newest = max(rounds) + 1
    simulated = dict(rounds)
    simulated[newest] = {n: True for n in head}
    real = rot.rounds_census
    try:
        rot.rounds_census = lambda: simulated
        assert rot.verify() == []
    finally:
        rot.rounds_census = real


def test_derive_head_spills_across_vintages():
    latest = {
        "old_b": (1, True),
        "old_a": (1, True),
        "new_c": (2, True),
        "red_x": (1, False),  # never refilled while red
    }
    got = derive_head(["add1"], latest)
    # oldest vintage alphabetical, then the next vintage; red excluded
    assert got[:4] == ["add1", "old_a", "old_b", "new_c"]


def test_verify_catches_a_corrupted_head(monkeypatch):
    import bigdata_2025_1_spark.registry as R
    import tools.rotation as rot

    bad = list(R.PRIORITY_HEAD)
    bad[20], bad[30] = bad[30], bad[20]  # swap two refresh slots
    monkeypatch.setattr(R, "PRIORITY_HEAD", tuple(bad))
    assert rot.verify() != []


def test_rounds_census_merges_same_round_files(tmp_path, monkeypatch):
    """Two files parsing to the same round number (an unpadded r7
    beside r07) must MERGE per query, not glob-order-overwrite
    (self-review r14)."""
    import json

    import tools.rotation as rot

    rec = {"rows_match": True, "schema_match": True, "hash_match": True}
    a = tmp_path / "CORRECTNESS_r7.json"
    a.write_text(json.dumps({"q_only_in_a": rec}))
    b = tmp_path / "CORRECTNESS_r07.json"
    b.write_text(json.dumps({"q_only_in_b": rec}))
    for order in ([str(a), str(b)], [str(b), str(a)]):
        monkeypatch.setattr(rot.glob, "glob", lambda pat, o=order: list(o))
        rounds = rot.rounds_census()
        assert set(rounds[7]) == {"q_only_in_a", "q_only_in_b"}


def test_load_old_rejects_invalid_ref():
    """A typo'd --ref must stay LOUD (self-review r14): silently
    treating it as 'every module is new' would make plandiff --all
    exit 0 having compared nothing."""
    import pytest

    from tools.ab import load_old

    with pytest.raises(SystemExit):
        load_old("no-such-ref-deadbeef", {"q1": "bench.py"})
    # a valid ref with a path that does not exist there still skips
    assert load_old("HEAD", {"q1": "no/such/module.py"}) == {}
