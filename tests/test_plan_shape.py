"""Plan-shape regression guard (r13 verdict #6).

SCALING.md tables every query's exchanges / join strategies / hinted
broadcasts, but nothing FAILED when an edit quietly added a shuffle to
an existing query — the measured runtime exponents would catch it only
above their 1 s floor, a round later.  This suite re-derives the same
per-query (exchanges, join strategies, broadcast count) inventory that
`scripts/scaling_report.py` commits to PLAN_SNAPSHOT.json and fails on
any deviation for an EXISTING query, so a plan change only lands as a
reviewed regeneration of the snapshot (same pattern as
tests/test_runtime_scaling.py's EXPLAINED list).

Queries added since the last regeneration are reported but not failures
— the round checklist regenerates the snapshot with SCALING.md.
Queries REMOVED from the registry fail (stale snapshot).
"""

from __future__ import annotations

import json
from pathlib import Path

from iceberg_table_generator_spark import all_queries
from iceberg_table_generator_spark.functions.cache import release_tracked
from iceberg_table_generator_spark.plans import explain

SF_DIR = "/root/testdata/sf0.001"
SNAPSHOT = Path(__file__).parent.parent / "PLAN_SNAPSHOT.json"

#: Intentional plan-shape changes since the committed snapshot:
#: name → one-line rationale.  Entries here are skipped by the diff and
#: must be dropped when the snapshot is next regenerated.
#: Emptied 2026-08-18 with the r14 round-end snapshot regeneration
#: (scripts/scaling_report.py): every r14 reshape is now the recorded
#: baseline shape in PLAN_SNAPSHOT.json.
#: (the r14 matryoshka entry was dropped 2026-08-18: the committed
#: snapshot was regenerated in the SAME commit as the spread() fix, so it
#: already records the post-fix shape — ADVICE r14 #5, verified live.)
EXPLAINED: dict[str, str] = {
    "multimodal_fingerprint_dedup": (
        "r15 mapInArrow fingerprint fold (guide §4.2): the doc→fp chain "
        "(chunk, md5-60, bit vote) runs in one Arrow pass, dropping the "
        "simhash() explode + 60-agg groupBy exchange (4 → 3 exchanges); "
        "pinned 2.26 → 1.42 s at sf0.1, oracle-green 3 SFs"
    ),
    "dedup_one_pass_verdict": (
        "r15 §2.4: the bucket-owner min rides a window over the same "
        "(band_id, band_hash) key instead of groupBy + join-back — one "
        "join dropped; wall-flat locally (owner was broadcast at sf0.1: "
        "2.67 vs 2.72 A/B) but the dropped join is data-sized at scale"
    ),
    "multimodal_feature_simhash_dedup": (
        "r15 mapInArrow fingerprint fold (guide §4.2): frame decode, "
        "token quantization and the bit vote run in one Arrow pass, "
        "dropping the collect_list + simhash() exchanges (4 → 3); pinned "
        "2.35 → 1.29 s at sf0.1, oracle-green 3 SFs"
    ),
    "text_source_vocab_overlap": (
        "r15 (a87f6db): spread() widens the one-split documents scan "
        "before tokenize→shingle→explode, and the per-source totals are "
        "the diagonal of one persisted ≤|sources|² pair aggregate instead "
        "of a second read of the corpus-sized source-set persist "
        "(plans/r15/text_source_vocab_overlap_{before,after}.txt); more "
        "exchanges (4 → 7) but 5.12 → 1.22 s at sf0.1"
    ),
}


def _shape(df) -> dict:
    joins = sorted(
        {
            n
            for n in explain.plan_nodes(df)
            if n.endswith("Join") and not n.startswith("Broadcast Exchange")
        }
    )
    return {
        "exchanges": explain.exchange_count(df),
        "joins": ", ".join(joins),
        "n_broadcasts": len(explain.broadcast_subtrees(df)),
    }


def test_plan_shapes_match_snapshot(spark):
    assert SNAPSHOT.exists(), "run scripts/scaling_report.py to create it"
    snapshot = json.loads(SNAPSHOT.read_text())
    queries = all_queries()
    removed = sorted(set(snapshot) - set(queries))
    assert not removed, (
        f"snapshot lists queries no longer registered: {removed} — "
        "regenerate scripts/scaling_report.py"
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    changed: list[str] = []
    new: list[str] = []
    try:
        for name in sorted(queries):
            df = queries[name](spark, SF_DIR)
            # Same inspection conditions as scaling_report.py: AQE off for
            # the explain only (load_table re-enables it per construction).
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            got = _shape(df)
            release_tracked()
            want = snapshot.get(name)
            if want is None:
                new.append(name)
            elif got != want and name not in EXPLAINED:
                changed.append(f"{name}: snapshot={want} now={got}")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", 10 * 1024 * 1024
        )
    if new:
        print(f"new since snapshot (regenerate at round end): {new}")
    assert not changed, (
        "plan shape changed for existing queries — if intentional, add an "
        "EXPLAINED rationale or regenerate scripts/scaling_report.py:\n"
        + "\n".join(changed)
    )
