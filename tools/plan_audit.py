"""Physical-plan audit: verify the plans are the ones we want.

For each audited query: does the parquet scan show pushed filters and a
pruned ReadSchema? Are joins broadcast where a side is small? How many
exchanges (shuffles)? How wide are the WholeStageCodegen spans? Writes
PLANS.md with the verdicts + selected plan excerpts.

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def audit(name: str, df, expectations: dict[str, object]) -> tuple[str, list[str]]:
    txt = plan_text(df)
    lines = []
    ok_all = True
    # formatted explain repeats node headers in the details section —
    # count DISTINCT node ids, not substring occurrences
    scans = len(set(re.findall(r"\((\d+)\) Scan parquet", txt)))
    exchanges = len(set(re.findall(r"\((\d+)\) Exchange", txt)))
    broadcasts = len(
        set(re.findall(r"\((\d+)\) Broadcast(?:Exchange|HashJoin|NestedLoopJoin)", txt))
    )
    codegen_spans = len(set(re.findall(r"\[codegen id : (\d+)\]", txt)))
    arrow_maps = len(set(re.findall(r"\((\d+)\) MapInArrow", txt)))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
    read_schemas = re.findall(r"ReadSchema: ([^\n]*)", txt)

    lines.append(f"- parquet scans: {scans}, shuffles(Exchange): {exchanges}, "
                 f"broadcast nodes: {broadcasts}, codegen spans: {codegen_spans}")
    for i, (p, rs) in enumerate(zip(pushed, read_schemas)):
        lines.append(f"- scan[{i}] PushedFilters: [{p[:120]}]")
        lines.append(f"- scan[{i}] ReadSchema: {rs[:160]}")

    for key, want in expectations.items():
        if key == "max_scans":
            got = scans <= want
        elif key == "pushed_contains":
            got = any(want in p for p in pushed)
        elif key == "schema_excludes":
            got = all(want not in rs for rs in read_schemas)
        elif key == "schema_includes_only":
            got = all(
                set(re.findall(r"(\w+):", rs)) <= set(want) for rs in read_schemas
            )
        elif key == "has_broadcast":
            got = broadcasts > 0 if want else broadcasts == 0
        elif key == "max_exchanges":
            got = exchanges <= want
        elif key == "max_arrow_maps":
            got = arrow_maps <= want
        elif key == "plan_contains":
            got = want in txt
        elif key == "plan_excludes":
            got = want not in txt
        else:
            continue
        status = "PASS" if got else "FAIL"
        if not got:
            ok_all = False
        lines.append(f"- EXPECT {key}={want}: **{status}**")
    header = f"### {name} — {'OK' if ok_all else 'NEEDS ATTENTION'}"
    return header, lines


def main() -> None:
    import __spark_entry__ as entry
    from fs_schema_validator_spark.session import get_spark
    from fs_schema_validator_spark.sources import synth
    from fs_schema_validator_spark.engine import ValidationEngine

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    sections = []

    # predicate pushdown must reach the parquet scan
    sections.append(
        audit(
            "range_violations (filter pushdown)",
            qs["range_violations"](spark, SF_DIR),
            {"pushed_contains": "GreaterThan(l_quantity,45", "max_scans": 1,
             "max_exchanges": 0},
        )
    )
    # referential: dim side broadcast, fact never shuffles
    sections.append(
        audit(
            "referential_orphans (broadcast anti-join)",
            qs["referential_orphans"](spark, SF_DIR),
            {"has_broadcast": True, "max_exchanges": 1},
        )
    )
    # flagship fused row pass: single scan, zero shuffles
    sections.append(
        audit(
            "flagship_violations (fused row pass)",
            qs["flagship_violations"](spark, SF_DIR),
            {"max_scans": 1, "max_exchanges": 1},  # 1 exchange = final sort
        )
    )
    # full sequences plan: fused projection is the only token-column scan
    seq = synth.corrupt_sequences(synth.gen_sequences(spark, 1000), every=97)
    tables = {
        "dim_sources": synth.gen_dim_sources(spark),
        "reference_tokens": synth.gen_reference_tokens(spark, 1000),
        "ref_distribution": synth.gen_ref_distribution(spark),
    }
    from bench import SEQ_RULES

    plan = ValidationEngine("doc_id").compile(seq, SEQ_RULES, tables)
    fused = plan.fused_projection()
    # the single Exchange is the TINY vocab-dim dedupe aggregation (one
    # row per source) feeding the broadcast — the wide base table still
    # flows shuffle-free into the projection
    sections.append(
        audit(
            "sequences fused projection (one wide pass)",
            fused,
            {"has_broadcast": True, "max_exchanges": 1},
        )
    )
    violations = plan.violations()
    txt = plan_text(violations)
    reuse = txt.count("InMemoryTableScan") + txt.count("TableCacheQueryStage")
    sections.append(
        (
            "### sequences violations (cached projection reuse) — "
            + ("OK" if reuse >= 4 else "NEEDS ATTENTION"),
            [f"- InMemoryTableScan/TableCacheQueryStage occurrences: {reuse} "
             f"(table rules read the cache, not the base scan)"],
        )
    )

    # rollup: grouping-set expansion inside ONE partial+final aggregate
    sections.append(
        audit(
            "stats_rollup (grouping sets, one shuffle)",
            qs["stats_rollup"](spark, SF_DIR),
            {"max_scans": 1, "max_exchanges": 1},
        )
    )
    # drift: the DriftRule's one collected job is a histogram aggregate
    # over one pruned scan; PSI/KS is finished on the driver, so the
    # engine's violation plan holds literal rows and the fused projection's
    # one pruned scan, and no shuffle
    from fs_schema_validator_spark.functions import sketches

    sections.append(
        audit(
            "drift histogram job (one scan, one exchange)",
            sketches.histogram(
                entry._t(spark, SF_DIR, "documents"), "n_chars", "lang", 0.0, 600.0, 12
            ),
            {"schema_excludes": "text", "max_scans": 1, "max_exchanges": 1},
        )
    )
    sections.append(
        audit(
            "drift_ks (engine DriftRule, finished on the driver)",
            qs["drift_ks"](spark, SF_DIR),
            {"schema_excludes": "text", "max_scans": 1, "max_exchanges": 0},
        )
    )
    # token k-gram dedup: the Arrow window-hash kernel runs once, and its
    # pair stream feeds one h-keyed window count and a per-doc rollup —
    # the corpus never self-joins and no pair set materializes
    sections.append(
        audit(
            "token_ngram_dup_stats (one Arrow window-hash pass + window count)",
            qs["token_ngram_dup_stats"](spark, SF_DIR),
            {"plan_contains": "MapInArrow", "max_arrow_maps": 1,
             "plan_excludes": "CartesianProduct"},
        )
    )

    # window family melt: BOTH running-total metrics stack() from ONE
    # window pass — 3 scans total (orders + events + orders for the
    # round-5 topn_<status> modes), not one per metric
    sections.append(
        audit(
            "window_ops (stack-melted window family, one pass per table)",
            qs["window_ops"](spark, SF_DIR),
            {"max_scans": 3, "plan_excludes": "CartesianProduct"},
        )
    )

    md = ["# PLANS — physical-plan audit\n",
          "Generated by `tools/plan_audit.py` at sf0.01 / n=1000 synth.",
          "Expectations are asserted; FAIL lines are plan regressions.\n"]
    for header, lines in sections:
        md.append(header)
        md.extend(lines)
        md.append("")
    out = REPO / "PLANS.md"
    out.write_text("\n".join(md))
    print("\n".join(md))


if __name__ == "__main__":
    main()
