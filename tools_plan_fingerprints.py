#!/usr/bin/env python
"""Write plans/fingerprints.tsv: one line per catalog entry, holding the
sha256 of its canonicalised optimised logical plan.

The fingerprints prove that a refactor changed no catalog plan: run this
before and after, then diff the file. Every entry is built on the data
the plan lint uses (tests/conftest.py SF_SMALL) in a fixed local[4]
session, so the file does not depend on the host's core count.

Canonicalisation strips what differs between two builds of the same
plan: expression ids, plan ids, file paths, and the global counters in
lambda-variable and common-expression names (renumbered by first
appearance). A plan with a multi-distinct aggregate is written as
unfingerprinted: Spark orders its distinct groups by expression-id
hashes, so the Expand gid numbering changes from run to run.

Usage (from anywhere; no arguments): python tools_plan_fingerprints.py
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

OUT = os.path.join(ROOT, "plans", "fingerprints.tsv")
WORKERS = 4

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_PATH = re.compile(r"(?<![\w:/.])(?:file:)?(?:/[\w.\-=]+){2,}/?")
_LAMBDA_VAR = re.compile(r"lambda (\w+?_\d+)#")
_COMMON_EXPR = re.compile(r"_common_expr_\d+")
# RewriteDistinctAggregates' Expand: one projection per group, its last
# column the gid literal (0 for the non-distinct aggregates). Two or
# more distinct groups are ordered by a hash map.
_GID_EXPAND = re.compile(r"Expand \[((?:\[[^\[\]]*\](?:, )?)+)\], \[[^\]]*\bgid#")
_PROJECTION = re.compile(r"\[([^\[\]]*)\]")


def _renumber(text: str, names: list[str]) -> str:
    """Rename each ``<stem>_<counter>`` to ``<stem>_<first-appearance index>``."""
    order = list(dict.fromkeys(names))
    if not order:
        return text
    renamed = {n: f"{n.rsplit('_', 1)[0]}_{i}" for i, n in enumerate(order)}
    pattern = re.compile(r"\b(" + "|".join(map(re.escape, order)) + r")\b")
    return pattern.sub(lambda m: renamed[m.group(1)], text)


def canonical_plan(plan: str) -> str:
    """The plan string with every run-dependent token replaced."""
    plan = _PLAN_ID.sub("plan_id=", plan)
    plan = _PATH.sub("<path>", plan)
    plan = _renumber(plan, _LAMBDA_VAR.findall(plan))
    plan = _renumber(plan, _COMMON_EXPR.findall(plan))
    return _EXPR_ID.sub("#", plan)


def _multi_distinct(plan: str) -> bool:
    return any(
        len({p.rsplit(", ", 1)[-1] for p in _PROJECTION.findall(m.group(1))} - {"0"}) > 1
        for m in _GID_EXPAND.finditer(plan)
    )


def fingerprint(df) -> str:
    """sha256 of the canonical optimised plan, or "unfingerprinted: ..."."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if _multi_distinct(plan):
        return "unfingerprinted: multi-distinct aggregate, Spark numbers its Expand gid groups in hash order"
    return hashlib.sha256(canonical_plan(plan).encode()).hexdigest()


def main() -> None:
    os.chdir(ROOT)  # the io_python_* entries resolve their source relative to the cwd
    from conftest import SF_SMALL

    from real_estate_data_pipeline_spark.queries import CATALOG, SERIAL
    from real_estate_data_pipeline_spark.session import get_session

    spark = get_session(
        "plan-fingerprints",
        master=f"local[{WORKERS}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.debug.maxToStringFields": "1000000",
            "spark.sql.maxMetadataStringLength": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )

    def build(name: str) -> tuple[str, str | None, str | None]:
        try:
            return name, fingerprint(CATALOG[name].fn(spark, SF_SMALL)), None
        except Exception:  # reported below; the other entries still build
            return name, None, traceback.format_exc()

    names = sorted(CATALOG)
    results = [build(n) for n in SERIAL if n in CATALOG]
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        results += pool.map(build, [n for n in names if n not in SERIAL])
    spark.stop()

    failed = {n: err for n, _, err in results if err}
    if failed:
        for n, err in sorted(failed.items()):
            print(f"FAILED {n}: {err}", file=sys.stderr)
        sys.exit(f"{len(failed)} catalog entries failed to build; {OUT} not written")
    with open(OUT, "w") as fh:
        fh.writelines(f"{n}\t{fp}\n" for n, fp, _ in sorted(results))
    print(f"{OUT}: {len(results)} entries")


if __name__ == "__main__":
    main()
