"""Generate PLANS.md: one physical-plan audit row per registered query.

Columns: exchange count, join strategies used, whether the plan contains a
CartesianProduct or any unpartitioned window (both must be 'no' — pinned by
tests/test_plans.py::test_registry_wide_no_cartesian_no_unpartitioned_windows),
and whether the final sort compiles to TakeOrderedAndProject. Each row is
planned after the previous query's caches are released, so it equals the
query's plan in a fresh session.

This is a review artifact, not a gate: the gate is the pytest assertion.
Regenerate with:

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod
    from data_pipeline_for_autonomous_vehicles_spark import caching, plans
    from data_pipeline_for_autonomous_vehicles_spark.session import get_spark

    spark = get_spark("plan_report")
    rows = []
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, sf_dir)
        txt = plans.plan_text(df)
        strategies = sorted(set(plans.join_strategies(df)))
        rows.append(
            (
                name,
                plans.exchange_count(df),
                ",".join(strategies) if strategies else "—",
                "yes" if plans.uses_cartesian_product(df) else "no",
                len(plans.unpartitioned_windows(df)),
                "yes" if "TakeOrderedAndProject" in txt else "no",
            )
        )
        # a cache registered by this query would substitute into the next
        # query's plan, so each row must start from an empty cache manager
        caching.release_plan_caches(blocking=True)

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by `tools/plan_report.py` at {sf_dir} "
        f"({len(rows)} queries). Invariants (cartesian = no, unpartitioned",
        "windows = 0) are pinned by the registry-wide test in",
        "`tests/test_plans.py`; this table is the human-readable twin.",
        "",
        "| query | exchanges | join strategies | cartesian | unpart. windows | top-k sort |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} | {r[4]} | {r[5]} |")
    out = "\n".join(lines) + "\n"
    with open("/root/repo/PLANS.md", "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(rows)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
