"""Physical-plan lint across the whole catalog.

Builds every ``queries()`` entry's DataFrame at the given sf dir and
audits the physical plan for the scale red flags the plan tests assert
on selected entries — generalized to all of them:

- ``CartesianProduct``: always a finding.
- ``BatchEvalPython``: a row-at-a-time (non-Arrow) Python UDF on the
  hot path (Arrow-batched pandas UDFs plan as ``ArrowEvalPython``) —
  always a finding.
- ``BroadcastNestedLoopJoin``: classified, not blanket-failed.  A BNLJ
  is *benign* when its build side is provably at most one row (a
  keyless aggregate — the standard scalar-attach ``crossJoin``), and
  *allowed* when the entry appears in ``ALLOW`` below with a written
  reason (bounded-by-construction build sides: a literal query set, a
  bounded key-domain matrix, the block-pair enumeration of the exact
  all-pairs baseline).  Any OTHER BNLJ — e.g. a new unbounded cross —
  fails the audit until it is either fixed or reviewed + documented
  here.  Build sides hidden inside cached (``persist``) or scalar
  subquery subtrees are not walkable; those entries must be in ALLOW.
- exchange count: reported, AND guarded — a full run compares each
  entry's count against the committed PLAN_AUDIT.md and FAILS when it
  grew >50% without a documented reason in ``EXCHANGE_OK`` below, so a
  plan regression (a lost broadcast, a new shuffle) blocks the gate as
  a diff instead of passing as prose.

Entries whose construction EXECUTES work (streaming drains, the HTTP
round-trip, sink writes) still yield their final DataFrame's plan; the
audit then costs roughly one correctness pass.

Usage::

    python tools/plan_audit.py [sf_dir] [query ...]   # default sf0.01

Writes PLAN_AUDIT.md at the repo root (full runs) and exits non-zero
on any unclassified finding.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from dystonse_gtfs_data_spark.cache import release_persisted
from dystonse_gtfs_data_spark.session import build_session

# BNLJs whose build side is bounded by construction (reviewed by hand;
# the reason is the documentation):
ALLOW: dict[str, str] = {
    "cosine_topk": "build = the literal query-id set (bounded): brute-force top-k baseline",
    "ann_recall": "build = the literal query-id set (bounded): recall@k ground truth",
    "ivfpq_recall": "build = the literal query-id set (bounded): recall@k ground truth",
    "embedding_near_dups": (
        "exact all-pairs baseline: BNLJ enumerates (b_a <= b_b) BLOCK-id "
        "pairs — B^2 bounded matmul tasks by design (allpairs_cosine docstring)"
    ),
    "transfer_probability_matrix": (
        "event_type x event_type matrix: bounded key domain — the cross IS "
        "the requested output"
    ),
    "scheduled_predictions": (
        "service-day expansion: window_days x calendar crossJoin, days "
        "bounded by the query window (operators/scheduled.py)"
    ),
    "gtfs_statistics": (
        "fallback-ladder global-default attach: 1-row IdentityBroadcast "
        "inside a cached subtree (predict.py coalesce ladder)"
    ),
    "gtfs_predictions": "same 1-row fallback-ladder attach as gtfs_statistics",
    "departure_board": "same 1-row fallback-ladder attach as gtfs_statistics",
    "fallback_lookup": "same 1-row fallback-ladder attach as gtfs_statistics",
}

# Entries whose exchange count is EXPECTED to exceed the committed
# baseline by >50% (reviewed growth; the reason is the documentation).
# Clear an entry once the regenerated PLAN_AUDIT.md with the new count
# is committed — the new count then becomes the baseline.
EXCHANGE_OK: dict[str, str] = {}

HARD_FLAGS = ("CartesianProduct", "BatchEvalPython")

_ROW_RE = re.compile(r"^\| (\S+) \| (-?\d+) \| (-?\d+) \| (-?\d+) \|")


def parse_committed_exchanges(text: str) -> dict[str, int]:
    """Entry → exchange count from a committed PLAN_AUDIT.md's table."""
    counts: dict[str, int] = {}
    for line in text.splitlines():
        m = _ROW_RE.match(line)
        if m:
            counts[m.group(1)] = int(m.group(2))
    return counts


def exchange_regressed(n_new: int, n_base: int) -> bool:
    """True when the exchange count grew >50% vs the committed baseline
    (a lost broadcast typically adds shuffles in multiples, and exchange
    counts are deterministic per plan — there is no run-to-run noise to
    absorb).  Negative counts mean 'no baseline' / 'build error'."""
    if n_base < 0 or n_new < 0:
        return False
    return n_new > n_base * 1.5


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


def _bnlj_kinds(df) -> list[str]:
    """Classify every BNLJ reachable in the (pre-AQE) physical tree:
    'scalar' if the build subtree contains a keyless aggregate, else
    'opaque'.  BNLJs inside cached/subquery subtrees are not reachable
    here — the caller reconciles against the formatted text."""
    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if "AdaptiveSparkPlan" in root.getClass().getSimpleName():
        root = root.initialPlan()
    kinds = []
    for node in _walk(root):
        if "BroadcastNestedLoopJoin" not in node.getClass().getSimpleName():
            continue
        build = node.right() if "Right" in node.buildSide().toString() else node.left()
        kind = "opaque"
        for b in _walk(build):
            if "Aggregate" in b.getClass().getSimpleName() and b.groupingExpressions().isEmpty():
                kind = "scalar"
                break
        kinds.append(kind)
    return kinds


def _dup_python_udfs(df) -> list[str]:
    """Duplicated Python-UDF evaluations: within one ArrowEvalPython
    node, two udf expressions with the SAME canonicalized form are the
    projection-collapse duplication trap (round 7 measured a curve-capping
    UDF running 3x/row after `withColumn(c, udf(x))` +
    `select(f(c), g(c), c)` collapsed) — each duplicate is a full extra
    Python evaluation per row.  Returns one descriptor per duplicate."""
    root = df._jdf.queryExecution().executedPlan()  # noqa: SLF001
    if "AdaptiveSparkPlan" in root.getClass().getSimpleName():
        root = root.initialPlan()
    dups: list[str] = []
    for node in _walk(root):
        if "ArrowEvalPython" not in node.getClass().getSimpleName():
            continue
        seen: dict[str, int] = {}
        udfs = node.udfs()
        for i in range(udfs.size()):
            u = udfs.apply(i)
            key = u.canonicalized().toString()
            seen[key] = seen.get(key, 0) + 1
        for key, n in seen.items():
            if n > 1:
                short = key.split("(")[0][:40]
                dups.append(f"{short} x{n}")
    return dups


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(  # noqa: SLF001
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
            "formatted"
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"
    )
    baseline: dict[str, int] = {}
    if os.path.exists(path):  # the committed artifact = the baseline
        baseline = parse_committed_exchanges(open(path).read())
    spark = build_session("plan_audit")
    rows: list[tuple[str, int, int, int, str]] = []
    failures: list[str] = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = formatted_plan(df)
            bnlj_kinds = _bnlj_kinds(df)
            dup_udfs = _dup_python_udfs(df)
        except Exception as e:  # construction failed — that IS a finding
            failures.append(name)
            rows.append((name, -1, -1, -1, f"plan build error: {e}"))
            continue
        finally:
            release_persisted()
        notes = []
        bad = False
        for flag in HARD_FLAGS:
            if flag in plan:
                notes.append(flag)
                bad = True
        if dup_udfs:
            notes.append("DUP PYTHON UDF: " + ", ".join(dup_udfs))
            bad = True
        n_bnlj_text = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) or (
            1 if "BroadcastNestedLoopJoin" in plan else 0
        )
        if n_bnlj_text:
            n_scalar = sum(1 for k in bnlj_kinds if k == "scalar")
            n_opaque = n_bnlj_text - n_scalar  # walk-opaque or cached-subtree
            if n_scalar:
                notes.append(f"BNLJ scalar-attach x{n_scalar}")
            if n_opaque > 0:
                if name in ALLOW:
                    notes.append(f"BNLJ allowed: {ALLOW[name]}")
                else:
                    notes.append(f"BNLJ UNCLASSIFIED x{n_opaque}")
                    bad = True
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_base = baseline.get(name, -1)
        if exchange_regressed(n_exchange, n_base):
            if name in EXCHANGE_OK:
                notes.append(
                    f"exchanges {n_base}->{n_exchange} ok: {EXCHANGE_OK[name]}"
                )
            else:
                notes.append(
                    f"EXCHANGE REGRESSION: {n_exchange} vs committed "
                    f"{n_base} (>50% growth needs an EXCHANGE_OK reason)"
                )
                bad = True
        if bad:
            failures.append(name)
        n_arrow = len(
            re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas", plan)
        )
        n_reused = len(re.findall(r"ReusedExchange", plan))
        rows.append((name, n_exchange, n_arrow, n_reused, "; ".join(notes) or "—"))
    out = [
        "# PLAN_AUDIT — physical-plan lint over every catalog entry",
        "",
        f"`python tools/plan_audit.py {sf_dir}`.  Hard flags: CartesianProduct,",
        "BatchEvalPython (row-at-a-time Python UDF), and any",
        "BroadcastNestedLoopJoin whose build side is neither a provable",
        "1-row scalar attach nor reviewed + documented in the tool's ALLOW",
        "table.  Exchange / Arrow-batched-Python / ReusedExchange counts",
        "are reported AND guarded: an entry whose exchange count grew >50%",
        "vs this committed file fails the audit unless the growth has a",
        "written reason in the tool's EXCHANGE_OK table.",
        "",
        "| entry | exchanges | arrow-python ops | reused exchanges | notes |",
        "|---|---|---|---|---|",
    ]
    for name, ne, na, nc, notes in rows:
        out.append(f"| {name} | {ne} | {na} | {nc} | {notes} |")
    out += [
        "",
        f"**{len(rows)} entries audited, {len(failures)} failing**"
        + (f": {failures}" if failures else "."),
        "",
    ]
    if not only:  # partial runs print, full runs persist the artifact
        with open(path, "w") as f:
            f.write("\n".join(out))
        print(f"wrote {path}")
    else:
        print("\n".join(out[10:]))
    print(f"{len(failures)} failing" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
