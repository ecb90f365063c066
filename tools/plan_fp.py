"""Per-query PLAN FINGERPRINTS: flag driver re-attestation on what the
query actually computes, not on which file was touched (VERDICT r7 task #2).

Round 7's module-import-closure flagging had the right soundness direction
(a banding-knob edit two modules away flags every consumer) but exploded:
touching ``operators/dedup.py`` flagged ~40 queries whose PLANS never
moved, overflowing the driver's ~50-slot correctness cap. The honest change
scope for a declarative engine is the Catalyst plan itself — if a code edit
leaves the canonicalized optimized plan, the output schema, the scanned
inputs, the oracle SQL, and every reachable Python-UDF body untouched, the
driver's prior attestation still attests THIS computation.

A query's fingerprint is the sha256 of:

- the optimized logical plan at sf0.001 with exprIds renumbered by first
  occurrence (NOT Spark's ``.canonicalized()``, whose commutative-operand
  hashCode ordering proved unstable across processes) — stable across
  sessions while any literal/operator/expression/column change (e.g. a
  derived ``band_bits``) moves it;
- ``df.schema.simpleString()`` — the driver's comparison is
  column-name-sorted, so output aliases are semantics;
- the oracle SQL text — an oracle edit changes what the driver would
  compare against, so the pair needs a fresh row;
- the AST hash (comments/formatting-invariant) of every module in the
  query's import closure that defines Python-eval code (pandas_udf /
  mapInPandas / applyInPandas / mapPartitions / F.udf) — UDF BODIES do not
  appear in the plan, only their names do;
- for queries whose computation is not fully in the final plan — streaming
  queries (the returned frame scans the memory sink) and any plan
  containing a LocalRelation or a LogicalRDD (driver-side eager loops
  collect and re-embed without data in the canonical string; on Spark 4
  ``createDataFrame`` over a Python list is a LogicalRDD) — additionally
  the AST hash of the FULL import closure, falling back to module
  granularity exactly where plan granularity is blind.

``tools/gen_priority.py`` consumes the committed snapshot
(``tools/plan_fps.json``: name -> {fp, round}) and flags a query when its
current fingerprint differs from the one recorded at its latest driver
attestation; queries without a snapshot entry fall back to the r7
timestamp-closure rule until their next attestation records one.

Usage:
    python tools/plan_fp.py                  # JSON {name: fp} on stdout
    python tools/plan_fp.py q1 q2 ...        # subset only
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("PLAN_FP_SF_DIR", "/root/testdata/sf0.001")

_PY_EVAL_RE = re.compile(
    r"pandas_udf|mapInPandas|applyInPandas|mapPartitions|\bF\.udf\(|\budf\("
)


def _module_ast_hash(path: str) -> str:
    """Comment/whitespace-invariant content hash of a Python module."""
    with open(path) as f:
        src = f.read()
    try:
        return hashlib.sha256(
            ast.dump(ast.parse(src)).encode()
        ).hexdigest()
    except SyntaxError:
        return hashlib.sha256(src.encode()).hexdigest()


_EXPR_ID = re.compile(r"#(\d+)")
# InMemoryRelation prints its cached PHYSICAL plan inside the logical
# string; that fragment carries a session-global plan_id counter (varies
# with how many plans were built before this one) and, for store reads,
# uuid-named part files — both are noise, not semantics.
_PLAN_ID = re.compile(r"plan_id=\d+")
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
# Higher-order-function lambda variables print with a session-global
# counter baked into the NAME (`lambda x_551#79`), same noise class as
# plan_id; the trailing #id is normalized positionally like any exprId.
# Only names BOUND by a `lambda <name>_<n>#` print are normalized —
# a blanket `\w_\d+#` rewrite would also erase ordinary columns whose
# names end in digits (band_0 vs band_1), hiding real plan edits
# (ADVICE r8 #1). Bound names are collected first, then every
# occurrence (binding and body) is rewritten.
_LAMBDA_BIND = re.compile(r"\blambda ([A-Za-z]\w*?_\d+)#")
# An InMemoryRelation materialized at construction time (eager operators:
# connected components, store builds) prints its FINALIZED AQE plan, whose
# query-stage numbers and whole-stage-codegen ids depend on runtime stage
# completion ORDER — a race, not semantics.
_QUERY_STAGE = re.compile(r"QueryStage \d+")
_CODEGEN_ID = re.compile(r"\*\(\d+\)")
# Partition counts: a physical partitioning prints its count as the last
# argument (``hashpartitioning(k#1, 4)``, ``RoundRobinPartitioning(4)``),
# a logical repartition at the end of its node line. The count is the
# session's shuffle partitions / default parallelism — the host's core
# count, not semantics — so it is tokenized when it equals one of those;
# any other literal count still moves the fingerprint.
_PARTITIONING = re.compile(r"\b\w*[pP]artitioning\(")
_LOGICAL_REPARTITION = re.compile(
    r"^([ :|+-]*(?:RepartitionByExpression .*, |Repartition ))(\d+)\b", re.M
)
_N_PARTS = "<n_parts>"


def _tokenize_partition_counts(s: str, counts: set[int]) -> str:
    out, pos = [], 0
    for m in _PARTITIONING.finditer(s):
        if m.start() < pos:
            continue
        depth, i = 1, m.end()
        while i < len(s) and depth:
            depth += {"(": 1, ")": -1}.get(s[i], 0)
            i += 1
        close = i - 1  # the partitioning's matching ")"
        args = s[m.end():close]
        n = args.rpartition(", ")[2]  # the last argument
        if n.isdigit() and int(n) in counts:
            args = args[: len(args) - len(n)] + _N_PARTS
        out.append(s[pos:m.end()] + args)
        pos = close
    out.append(s[pos:])
    s = "".join(out)
    return _LOGICAL_REPARTITION.sub(
        lambda m: m.group(1) + (_N_PARTS if int(m.group(2)) in counts else m.group(2)),
        s,
    )


def _canonical_plan(df) -> str:
    """Optimized logical plan, exprIds renumbered by first occurrence.

    NOT Spark's ``.canonicalized()``: that form reorders commutative
    operands by JVM hashCode, which proved unstable ACROSS PROCESSES
    (``a = CASE...`` vs ``CASE... = a`` flipped between two identical
    runs), and it erases column names — which are driver-comparison
    semantics here. The raw optimized plan keeps source operand order and
    names; the only cross-session noise is the monotonic exprId counter,
    removed by positional renumbering. Partition counts equal to the
    session's shuffle partitions or default parallelism print as a token,
    so the fingerprint is the same on any core count.
    """
    s = df._jdf.queryExecution().optimizedPlan().toString()
    # Repo-relative fixtures (the wikidata dump) print absolute FileScan
    # locations; the fp must not depend on WHERE the tree is checked out
    # (fingerprints are compared across worktrees of different rounds).
    s = s.replace(REPO, "<repo>")
    s = _PLAN_ID.sub("plan_id=#", s)
    s = _UUID.sub("<uuid>", s)
    for lam in sorted({m.group(1) for m in _LAMBDA_BIND.finditer(s)}):
        s = re.sub(
            r"\b" + re.escape(lam) + r"#",
            lam.rsplit("_", 1)[0] + "_##",
            s,
        )
    s = _QUERY_STAGE.sub("QueryStage #", s)
    s = _CODEGEN_ID.sub("*(#)", s)
    spark = df.sparkSession
    s = _tokenize_partition_counts(
        s,
        {
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        },
    )
    mapping: dict[str, str] = {}

    def sub(m: re.Match) -> str:
        i = m.group(1)
        if i not in mapping:
            mapping[i] = str(len(mapping))
        return "#" + mapping[i]

    return _EXPR_ID.sub(sub, s)


def compute_fps(spark, names: list[str] | None = None) -> dict[str, str]:
    sys.path.insert(0, REPO)
    from tools.gen_priority import closure_of, defining_modules, module_file
    from wd2sql_spark.queries import load_all_modules
    from wd2sql_spark.session_cache import clear_all_session_caches

    reg = load_all_modules()
    defmod = defining_modules()
    # Wide plans must not be truncated: a "... 24 more fields" ellipsis
    # both hides real change and makes the hash depend on the default cap.
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    # FileScan metadata (DataFilters/Location) truncates at 100 chars by
    # default — and whether a given scan crosses that cap depends on the
    # DIGIT WIDTH of the session's raw exprIds, so the same query hashed
    # differently in a fresh session vs late in a test suite. Untruncated
    # metadata + positional renumbering is stable in both.
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")
    # Fingerprints must be COLD-cache for the same reason PLANS.md is
    # (tools/gen_plans.py): a persisted fragment substitutes
    # InMemoryRelation and the canonical string shifts with suite ordering.
    # Cleared before EVERY query (not once): fp(q) must be identical
    # whether q is fingerprinted alone or after 100 other queries, or a
    # subset --refresh would disagree with a full run.

    ast_cache: dict[str, str] = {}

    def ast_hash(mod: str) -> str | None:
        if mod not in ast_cache:
            path = module_file(mod)
            ast_cache[mod] = _module_ast_hash(path) if path else ""
        return ast_cache[mod] or None

    def py_eval_modules(mods: set[str]) -> list[str]:
        out = []
        for m in sorted(mods):
            path = module_file(m)
            if path is None:
                continue
            with open(path) as f:
                if _PY_EVAL_RE.search(f.read()):
                    out.append(m)
        return out

    closure_cache: dict[str, set[str]] = {}
    out: dict[str, str] = {}
    for name, q in reg.items():
        if names is not None and name not in names:
            continue
        spark.catalog.clearCache()
        clear_all_session_caches()
        h = hashlib.sha256()
        mod = defmod.get(name, "")
        scope = closure_of(mod, closure_cache) if mod else set()
        plan_blind = name.startswith("stream_")
        if not plan_blind:
            try:
                df = q.fn(spark, SF)
                plan = _canonical_plan(df)
                h.update(plan.encode())
                h.update(df.schema.simpleString().encode())
                plan_blind = "LocalRelation" in plan or "LogicalRDD" in plan
            except Exception as e:  # un-buildable → hash the error class
                h.update(f"build-error:{type(e).__name__}".encode())
                plan_blind = True
        h.update((q.oracle or "").encode())
        # Python-eval bodies are invisible to the plan: mix their ASTs.
        blind_mods = py_eval_modules(scope)
        if plan_blind:
            # The plan does not carry the computation (stream memory sink,
            # collected-and-re-embedded LocalRelation/LogicalRDD): fall back
            # to module granularity over the whole closure for THIS query.
            blind_mods = sorted(scope)
        for m in blind_mods:
            hm = ast_hash(m)
            if hm:
                h.update(f"{m}:{hm}".encode())
        out[name] = h.hexdigest()
    return out


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")] or None
    sys.path.insert(0, REPO)
    from wd2sql_spark.session import get_spark

    fps = compute_fps(get_spark("plan-fp"), names)
    json.dump(fps, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
