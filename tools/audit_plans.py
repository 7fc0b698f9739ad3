"""Full-registry plan audit (guide §1): for EVERY declared query, build
the DataFrame and count plan-shape signals in .explain("formatted") —
parquet scans (duplicate-subtree smell), exchanges, broadcast nested
loops, global Sorts, and Python-eval nodes. Build-only: queries that
execute jobs at plan-build time still run them, so the audit doubles as
a smoke test. Prints one JSON line per query plus a flagged summary.
Each row carries ``build_sec`` and ``build_jobs``: the wall and the Spark
jobs of the query function returning its DataFrame, timed under its own
job group by ``tools/measure.py``'s ``_phase`` (the explain is outside).

Counts come from :func:`plan_counts`, which reads only the numbered
operator trees (the formatted plan prints every node twice: once in the
tree, once in the details) and leaves out the subtree under each
``InMemoryRelation`` (a cached plan, run once per cache fill rather than
per read; its reads are counted as ``scan_cached``) and each AQE
``== Initial Plan ==`` (a superseded copy of the final plan).

:func:`masked_plan` masks the ids and paths that differ between two
builds of one plan, for diffing a query's plan before and after a change.

Usage: python tools/audit_plans.py [out.json]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one operator line of a numbered tree: tree glyphs, an optional
# whole-stage-codegen star, the operator text, then its "(id)"
_NODE = re.compile(r"^[ :|+-]*(?:\* )?(?P<name>[A-Za-z][^()]*?)\s*\((?P<id>\d+)\)")
_DETAIL = re.compile(r"^\((?P<id>\d+)\) (?P<name>\S+)")
# a Sort's details end "Arguments: [order], <global>, <spill threshold>"
_GLOBAL_SORT = re.compile(r"^Arguments: .*, true, \d+$")
# what differs between two builds of one plan: expression ids (``a#12L``,
# ``subquery#95``, ``[id=#202]``), exchange plan ids, RDD ids and the
# call site an RDD was created at, lambda variable names (``lambda x_12``,
# numbered by a JVM-wide counter), a stateful streaming operator's
# ``runId`` and checkpoint paths (Spark names their directories by UUID
# and ``rdd-N``)
_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(RDD\[N\] at \w+ at )\S+:\d+"), r"\1<callsite>"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"runId = [0-9a-f-]{36}"), "runId = N"),
    (
        re.compile(
            r"[^\s,\[\]]*/(?:[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}|rdd-\d+)"
            r"(?:/[^\s,\[\]]*)?"
        ),
        "<checkpoint>",
    ),
)

_COUNTS = {
    "scan_parquet": lambda n: n.startswith("Scan parquet"),
    "scan_rdd": lambda n: n.startswith("Scan ExistingRDD"),
    "scan_cached": lambda n: n == "InMemoryTableScan",
    "exchange": lambda n: n == "Exchange",
    "bnlj": lambda n: n.startswith("BroadcastNestedLoopJoin"),
    "pyeval": lambda n: n in ("BatchEvalPython", "ArrowEvalPython"),
    "mapinpandas": lambda n: n == "MapInPandas",
}


def plan_counts(text: str) -> dict[str, int]:
    """Count plan-shape signals in ``explain("formatted")`` output.

    Reads the operator trees (the physical plan and each subquery's) and
    counts each numbered node once. Skips the subtree below an
    ``InMemoryRelation`` and below an AQE ``== Initial Plan ==`` marker.
    ``global_sort`` counts tree Sorts whose details mark them global.
    """
    nodes: dict[int, str] = {}
    global_sorts: set[int] = set()
    in_tree = False
    skip_col = None  # skip tree lines whose operator column is past this
    detail_id = None
    for line in text.splitlines():
        if not line.strip():
            in_tree, skip_col, detail_id = False, None, None
            continue
        if line == "== Physical Plan ==" or line.startswith("Subquery:"):
            in_tree = True
            continue
        if not in_tree:
            m = _DETAIL.match(line)
            if m:
                detail_id = int(m.group("id")) if m.group("name") == "Sort" else None
            elif detail_id is not None and _GLOBAL_SORT.match(line):
                global_sorts.add(detail_id)
            continue
        body = line.lstrip(" :|+-")
        col = len(line) - len(body)
        if skip_col is not None:
            if col > skip_col:
                continue
            skip_col = None
        if body.startswith("== Initial Plan =="):
            skip_col = col - 1  # the initial plan's nodes sit at the marker's column
            continue
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group("name")
        nodes[int(m.group("id"))] = name
        if name == "InMemoryRelation":
            skip_col = col
    out = {k: sum(1 for n in nodes.values() if pred(n)) for k, pred in _COUNTS.items()}
    out["global_sort"] = sum(
        1 for i, n in nodes.items() if n == "Sort" and i in global_sorts
    )
    return out


def masked_plan(text: str) -> str:
    """``explain("formatted")`` output with the ids and paths that change
    from one build of the same plan to the next masked, so two builds
    compare equal exactly when their plans match."""
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    sys.path.insert(0, _ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from measure import _phase
    from pytrousse_spark.session import get_spark

    import __spark_entry__ as entrymod

    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pytrousse-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = dict(entrymod.queries())
    rows = {}
    for name in sorted(qs):
        try:
            df, build_sec, build_jobs = _phase(
                spark, f"audit:{name}", lambda: qs[name](spark, sf_dir)
            )
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            rows[name] = {
                **plan_counts(buf.getvalue()),
                "build_sec": round(build_sec, 2),
                "build_jobs": build_jobs,
            }
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"error": str(exc)[:200]}
        print(json.dumps({name: rows[name]}), flush=True)
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1)
    flagged = {
        k: v
        for k, v in rows.items()
        if v.get("scan_parquet", 0) > 4 or v.get("pyeval", 0) > 0
    }
    print("FLAGGED:", json.dumps(flagged, indent=1))


if __name__ == "__main__":
    main()
