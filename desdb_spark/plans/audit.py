"""Logical-plan audit helpers (r12, VERDICT r11 item 6).

The r11 profiling round found four systemic plan pathologies; the
mechanically-detectable one is promoted here into a reusable lint: a
self-join whose BOTH sides derive from the same expensive un-checkpointed
frame executes that frame's plan twice (Spark's logical planner never
caches repeated subtrees; physical exchange reuse only rescues the cases
where the repeat ends in an identical exchange). The fix is always the
same — ``localCheckpoint()`` the shared frame — and the offenders r11
fixed by hand (minhash candidate self-join 12.6→2.1 s, ann_lsh 12→5.6 s)
are exactly this shape.

Detection: walk the OPTIMIZED logical plan; for every binary join node,
canonicalize each side's subtrees (``canonicalized`` normalizes
expression IDs, so the two aliased copies of one frame compare equal)
and intersect. A shared subtree counts only if it is *expensive* —
contains an Aggregate / Window / Generate / Join / Deduplicate — because
re-scanning a leaf (parquet, a localCheckpoint's LogicalRDD) on both
sides is the cheap, intended outcome of checkpointing.

``count_py4j_calls`` measures the driver side of a plan: how many py4j
commands building it sends to the JVM.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

#: Node classes whose recomputation is expensive enough that sharing one
#: across both sides of a join is a plan bug (each costs a shuffle, a
#: sort, or a row-multiplying expression re-evaluation per execution).
_EXPENSIVE = frozenset(
    {"Aggregate", "Window", "Generate", "Join", "Deduplicate", "Sort"}
)


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _walk(node):
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _expensive_canon_subtrees(node) -> dict[str, str]:
    """Canonical-string → simpleName for every expensive subtree under
    ``node`` (the subtree root itself must be an expensive class; any
    cheaper wrapper above it — Project, Filter — would share it too, but
    flagging the innermost expensive root is enough to localize)."""
    out: dict[str, str] = {}
    for n in _walk(node):
        if _name(n) in _EXPENSIVE:
            out[n.canonicalized().toString()] = _name(n)
    return out


def repeated_join_subtrees(df: DataFrame) -> list[str]:
    """Names of expensive plan nodes that appear (canonically equal) on
    BOTH sides of some join in ``df``'s optimized logical plan — each one
    is executed twice at runtime. Empty list = clean."""
    plan = df._jdf.queryExecution().optimizedPlan()
    offenders: list[str] = []
    for node in _walk(plan):
        if _name(node) != "Join":
            continue
        kids = _children(node)
        if len(kids) != 2:
            continue
        left = _expensive_canon_subtrees(kids[0])
        right = _expensive_canon_subtrees(kids[1])
        for canon in left.keys() & right.keys():
            offenders.append(left[canon])
    return offenders


#: Array-SOURCE expressions that are quadratic when re-evaluated inside a
#: higher-order-function lambda body (SCALING.md §14): HOF lambdas are
#: interpreted and Catalyst does not hoist non-lambda-variable subtrees,
#: so e.g. ``transform(split(text), (x, i) -> ... split(text)[i+1] ...)``
#: re-splits the document once PER ELEMENT. HOF *arguments* evaluate once
#: per row and are fine; only the lambda BODY is scanned.
_HOF_RECOMPUTED_SOURCES = ("split(", "sequence(", "sentences(", "json_tuple(")


#: Body-extraction cap: plan strings print literals verbatim, so an
#: unbalanced '(' inside a string literal can defeat the depth scan and
#: run the "body" to end-of-plan, turning the lint into a fleet-wide
#: false positive. A lambda body longer than this is implausible; the
#: cap bounds the blast radius to a bounded window after the marker.
_HOF_BODY_CAP = 4000


def codegen_generate_over_hof_column(df: DataFrame) -> list[str]:
    """Generate nodes fused into WholeStageCodegen whose generator is a
    bare column reference computed by a HOF (``lambdafunction``)
    expression in the directly-fused child Project. The fused codegen
    re-evaluates the column's defining expression per OUTPUT element,
    not once per input row — measured 105 s vs 4 s (≈50×) on the sf1
    span-window corpus (r14; docs/SCALING.md §14). Empty list = clean.

    This trap is the MIRROR of the capture-re-eval lint below: binding
    an expensive array to a projected column is the fix THERE, but
    posexploding that bound column is the offender HERE — put the HOF
    expression inline in the generator instead (the un-fused
    interpreted GenerateExec evaluates it once per input row), or break
    fusion between the Project and the Generate.

    Detection is string-level on the executed plan: a ``*(n) Generate
    (pos)explode(col#id)`` line whose DIRECT child line is a Project
    containing ``lambdafunction(`` and ``AS col#id``. A Project
    separated by a stage boundary (InputAdapter/exchange/checkpoint) is
    not fused and not flagged."""
    import re

    plan = _rendered_plan(df)
    lines = plan.split("\n")
    offenders: list[str] = []
    gen_re = re.compile(r"\*\(\d+\)\s+Generate\s+(?:pos)?explode(?:_outer)?\((\w+)#(\d+)\)")
    for i, ln in enumerate(lines):
        m = gen_re.search(ln)
        if not m or i + 1 >= len(lines):
            continue
        child = lines[i + 1]
        name, cid = m.group(1), m.group(2)
        pos = child.find(f"AS {name}#{cid}")
        if pos < 0:
            continue
        # Scope the scan to THIS column's defining expression: it spans
        # from just after the previous column's alias (if any) to our
        # own `AS` — a lambdafunction in a sibling column must not flag.
        seg = child[:pos]
        prev = seg.rfind(" AS ")
        if prev >= 0:
            comma = seg.find(",", prev)
            seg = seg[comma + 1 :] if comma >= 0 else seg[prev:]
        if "lambdafunction(" in seg:
            offenders.append(f"{name}#{cid}")
    return offenders


def _rendered_plan(df: DataFrame, analyzed: bool = False) -> str:
    """Render a plan with maxToStringFields raised so wide projections
    cannot hide expression bodies (ADVICE r12), restoring the conf."""
    conf = df.sparkSession.conf
    key = "spark.sql.debug.maxToStringFields"
    old = conf.get(key, None)
    conf.set(key, "1000000")
    try:
        qe = df._jdf.queryExecution()
        return (qe.analyzed() if analyzed else qe.executedPlan()).toString()
    finally:
        if old is None:
            conf.unset(key)
        else:
            conf.set(key, old)


def hof_lambda_recomputed_sources(df: DataFrame) -> list[str]:
    """Array-source function calls found INSIDE lambdafunction bodies of
    ``df``'s analyzed plan — each is re-evaluated per array element at
    runtime. Empty list = clean. (``sequence(`` as the HOF's own input
    array is NOT flagged — only occurrences inside the lambda body.)

    Known limitation: the body is found by paren-depth scanning of the
    plan STRING, and literals print unescaped — a string literal
    containing an unbalanced paren can close the body early (missed
    offender) or overrun it (bounded by ``_HOF_BODY_CAP``; on overrun a
    ``UNPARSEABLE_LAMBDA_BODY`` sentinel offender is appended so the
    fleet-wide test REDS instead of quietly scanning a truncated
    window — ADVICE r12). No registered op carries such a literal; a
    new one that does should audit itself explicitly.

    Rendering (ADVICE r12): ``toString()`` truncates wide node field
    lists at ``spark.sql.debug.maxToStringFields`` (default 25) with an
    "... N more fields" elision — a lambda body hidden inside a
    truncated projection list would be silently missed. The conf is
    read dynamically at render time, so it is raised around the render
    and restored after.
    """
    plan = _rendered_plan(df, analyzed=True)
    marker = "lambdafunction("
    offenders: list[str] = []
    i = 0
    while True:
        j = plan.find(marker, i)
        if j < 0:
            break
        k = j + len(marker)
        depth, m = 1, k
        limit = min(len(plan), k + _HOF_BODY_CAP)
        while m < limit and depth:
            if plan[m] == "(":
                depth += 1
            elif plan[m] == ")":
                depth -= 1
            m += 1
        if depth:
            # Cap overrun: the window closed before the body did. Red
            # loudly — a truncated scan is a false NEGATIVE in waiting.
            if "UNPARSEABLE_LAMBDA_BODY" not in offenders:
                offenders.append("UNPARSEABLE_LAMBDA_BODY")
        body = plan[k : m - 1]
        for s in _HOF_RECOMPUTED_SOURCES:
            if s in body and s not in offenders:
                offenders.append(s)
        i = m
    return offenders


@contextlib.contextmanager
def count_py4j_calls(spark: SparkSession) -> Iterator[SimpleNamespace]:
    """Count the py4j commands the Python driver sends to the JVM inside
    the block — the plan-BUILD cost that no Spark metric shows
    (docs/SCALING.md §16, §24). Wraps the gateway client's
    ``send_command`` for the duration of the block, from every thread;
    the wrapper is removed on exit.

        with count_py4j_calls(spark) as n:
            df = build_plan(spark)
        assert n.calls < 2_000
    """
    client = spark.sparkContext._gateway._gateway_client
    count = SimpleNamespace(calls=0)
    inner = client.send_command
    nested = "send_command" in vars(client)

    def send_command(*args, **kwargs):
        count.calls += 1
        return inner(*args, **kwargs)

    client.send_command = send_command
    try:
        yield count
    finally:
        if nested:
            client.send_command = inner
        else:
            del client.send_command
