"""The driver-priority list must front-load queries whose COMPUTATION
changed since their last driver attestation (VERDICT r6 task #2; r7 task
#2 narrowed the flag from module timestamps to plan fingerprints).

``tools/gen_priority.py`` + ``tools/plan_fp.py`` are the mechanism: a
query is flagged when its fingerprint (optimized plan + output schema +
oracle SQL + Python-eval-module ASTs) differs from the snapshot recorded
at its latest driver attestation (``tools/plan_fps.json``). These tests
are the forcing function — change a query's plan mid-round and they fail
until ``registry._PRIORITY`` covers the flagged query, so the next driver
run re-proves what changed instead of rotating by staleness alone.

Round-boundary tolerance: the driver writes CORRECTNESS_r{N}.json (and the
judge runs this suite) BEFORE the builder can regenerate the list, so a
head slot is also satisfied by a query with a row in the NEWEST
correctness file — "the list the driver just consumed" must not fail a
fresh checkout (VERDICT r7 what's-wrong #1).

If this fails at round start: run ``python tools/gen_priority.py
--refresh`` (records fingerprints for newly attested queries), then
rebuild ``_PRIORITY``'s head from ``python tools/gen_priority.py``.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver's correctness run is capped at ~50 registry entries.
DRIVER_CAP = 50
# A few head slots may be hand-pinned out of tool order (a brand-new query
# needing its first row, or a verdict-named must-run).
HAND_PIN_SLACK = 8

_CACHE: dict = {}


def _flagged(spark) -> list[str]:
    """Flagged names, computed once per session (a full fingerprint pass
    builds every registered query's plan at sf0.001)."""
    if "flagged" not in _CACHE:
        from tools.gen_priority import flagged_queries
        from tools.plan_fp import compute_fps

        fps = compute_fps(spark)
        _CACHE["fps"] = fps
        _CACHE["flagged"] = [d["name"] for d in flagged_queries(current_fps=fps)]
    return _CACHE["flagged"]


def _newest_round_names() -> set[str]:
    newest, names = -1, set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m and int(m.group(1)) > newest:
            newest = int(m.group(1))
            with open(path) as f:
                names = set(json.load(f))
    return names


def test_priority_front_loads_changed_queries(spark):
    from wd2sql_spark.queries.registry import _PRIORITY

    flagged = _flagged(spark)
    fresh = _newest_round_names()
    k = min(DRIVER_CAP, len(flagged))
    # Head slots occupied by freshly-attested queries don't count against
    # the window: at the round boundary the flagged set shrinks while the
    # list still describes the run the driver just executed.
    fresh_in_head = sum(1 for n in _PRIORITY[:DRIVER_CAP] if n in fresh)
    head = set(_PRIORITY[: k + HAND_PIN_SLACK + fresh_in_head])
    missing = [n for n in flagged[:k] if n not in head]
    assert not missing, (
        f"{len(missing)} changed-since-attestation queries are not in the "
        f"first {k + HAND_PIN_SLACK + fresh_in_head} _PRIORITY slots: "
        f"{missing[:10]} — regenerate with `python tools/gen_priority.py`"
    )


def test_priority_wastes_no_slots_while_flagged_queue_overflows(spark):
    """While more queries are flagged than the driver can attest in one
    round, every head slot must go to a flagged (or just-attested)
    query."""
    from wd2sql_spark.queries.registry import _PRIORITY

    flagged = set(_flagged(spark))
    if len(flagged) < DRIVER_CAP:
        return  # queue fits; stalest-first padding is fine
    fresh = _newest_round_names()
    wasted = [n for n in _PRIORITY[:DRIVER_CAP] if n not in flagged and n not in fresh]
    assert not wasted, (
        f"_PRIORITY head spends driver slots on already-attested queries "
        f"while {len(flagged)} flagged ones wait: {wasted[:10]}"
    )


def test_priority_flagged_all_queued(spark):
    """Every flagged query must appear SOMEWHERE in _PRIORITY, so an
    overflow backlog is queued for the next round rather than dropped."""
    from wd2sql_spark.queries.registry import _PRIORITY

    flagged = _flagged(spark)
    queued = set(_PRIORITY)
    dropped = [n for n in flagged[: 2 * DRIVER_CAP] if n not in queued]
    assert not dropped, f"flagged but nowhere in _PRIORITY: {dropped[:10]}"


def test_priority_names_are_registered():
    from wd2sql_spark.queries import load_all_modules
    from wd2sql_spark.queries.registry import _PRIORITY

    registry = load_all_modules()
    unknown = [n for n in _PRIORITY if n not in registry]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"


def test_snapshot_rounds_match_attestations():
    """A snapshot entry claiming round N for a query whose latest driver
    row is round M > N means the --refresh ritual was skipped; the
    fallback then silently reverts to timestamp granularity."""
    from tools.gen_priority import attestations, load_snapshot

    att = attestations()
    snap = load_snapshot()
    stale = [
        n for n, (rnd, _) in att.items()
        if n in snap and snap[n]["round"] > rnd
    ]
    assert not stale, f"snapshot claims a FUTURE round for: {stale[:10]}"


# ---------------------------------------------------------------------------
# VERDICT r7 task #2 "done" criteria
# ---------------------------------------------------------------------------


def test_comment_only_touch_moves_no_fingerprint(tmp_path):
    """A comment-only edit must not flag anything: the module-AST hash —
    the only fingerprint input that reads source text — is
    comment/formatting-invariant."""
    from tools.plan_fp import _module_ast_hash

    a = tmp_path / "a.py"
    a.write_text("def band_bits(n):\n    return 8 if n > 100 else 4\n")
    h1 = _module_ast_hash(str(a))
    a.write_text(
        "# a comment-only touch: new header\n"
        "def band_bits(n):\n"
        "    # explain the knob\n"
        "    return 8 if n > 100 else 4  # trailing\n"
    )
    assert _module_ast_hash(str(a)) == h1
    a.write_text("def band_bits(n):\n    return 16 if n > 100 else 4\n")
    assert _module_ast_hash(str(a)) != h1, "a REAL edit must move the hash"


def test_partition_count_tokenized_only_at_session_counts():
    """The fingerprint must not depend on the core count (the session's
    shuffle partitions / default parallelism), but any other literal
    partition count, or a literal inside the partitioning expression,
    must still move it."""
    from tools.plan_fp import _tokenize_partition_counts as tok

    plan = "Exchange hashpartitioning(k#1, {}), ENSURE\n+- Repartition {}, true"
    assert tok(plan.format(4, 4), {4}) == tok(plan.format(32, 32), {32})
    assert tok(plan.format(8, 8), {4}) != tok(plan.format(9, 9), {4})
    nested = "hashpartitioning(coalesce(k#1, 4), 8)"
    assert tok(nested, {4}) == nested


def test_fp_match_unflagged_despite_newer_module_timestamp(spark):
    """The r7 failure mode, inverted: a module whose git timestamp is
    newer than the attestation must NOT flag a query whose fingerprint
    still matches its snapshot (that is the whole point of task #2)."""
    from tools.gen_priority import attestations, flagged_queries, load_snapshot

    att = attestations()
    snap = load_snapshot()
    fps = _CACHE.get("fps")
    if fps is None:
        from tools.plan_fp import compute_fps

        fps = _CACHE["fps"] = compute_fps(spark)
    # Pick any snapshot-matched query; pretend its fingerprint matches
    # (it does) and confirm the flag logic leaves it alone regardless of
    # file timestamps — flagged_queries never consults timestamps for
    # snapshot-covered names.
    covered = [
        n for n, (rnd, _) in att.items()
        if n in snap and snap[n]["round"] == rnd and fps.get(n) == snap[n]["fp"]
    ]
    assert covered, "no snapshot-matched queries — snapshot missing?"
    flagged = {d["name"] for d in flagged_queries(current_fps=fps)}
    wrongly = [n for n in covered if n in flagged]
    assert not wrongly, f"fp-matched queries flagged anyway: {wrongly[:10]}"


def test_fp_is_session_history_independent(spark, sf_dir):
    """A fingerprint must not depend on how much work the session did
    before computing it. The r8 bug class: raw exprIds grow monotonically
    per session, and FileScan metadata truncates at a character cap, so a
    plan hashed late in a suite (exprIds 4+ digits) truncated where a
    fresh session's didn't. Burn thousands of exprIds between two
    computations of the same query's fingerprint and demand equality."""
    from tools.plan_fp import compute_fps

    names = ["wd_etl_string", "join_left_outer"]
    before = compute_fps(spark, names)
    from wd2sql_spark.catalog import table

    df = table(spark, sf_dir, "orders")
    for _ in range(12):  # each select allocates exprIds for every column
        df = df.select(*df.columns)
        df = df.selectExpr(*[f"{c} as {c}" for c in df.columns])
    df.schema  # force analysis so the ids are really allocated
    after = compute_fps(spark, names)
    assert before == after, "fingerprint moved with session exprId history"


def test_banding_change_flags_knob_consumers(spark, sf_dir):
    """A REAL banding change must move the fingerprint of every knob
    consumer: widen the simhash band split and the plan literals shift,
    so the fp differs even though no file timestamp changed."""
    from wd2sql_spark.operators import dedup as D
    from wd2sql_spark.queries import load_all_modules
    from tools import plan_fp

    reg = load_all_modules()
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")

    def fp_of(name):
        # dedup_simhash is plan_cached: clear the session caches so the
        # patched knob actually reaches a fresh plan build.
        from wd2sql_spark.session_cache import clear_all_session_caches

        spark.catalog.clearCache()
        clear_all_session_caches()
        df = reg[name].fn(spark, sf_dir)
        return plan_fp._canonical_plan(df)

    base = fp_of("dedup_simhash")
    orig = D.auto_band_bits
    try:
        def widened(*a, **kw):
            got = orig(*a, **kw)
            return max(2, got - 1)

        D.auto_band_bits = widened
        moved = fp_of("dedup_simhash")
    finally:
        D.auto_band_bits = orig
    assert moved != base, (
        "banding knob change did not move dedup_simhash's plan "
        "fingerprint — the flag would miss a real semantic change"
    )
