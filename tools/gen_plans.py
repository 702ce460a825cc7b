#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship
operators with the scale-relevant properties called out. The hard
assertions live in tests/test_plans.py; this artifact is the
human-readable audit trail (PushedFilters reaching scans, Exchange
counts, broadcast placement, WholeStageCodegen coverage).

The plan session is pinned to local[8] with 8 shuffle partitions;
SPARK_GRAFT_CPUS and SPARK_SHUFFLE_PARTITIONS are ignored on purpose.
Exchange widths (hashpartitioning(..., 8)) are part of the committed
audit, and tests/test_plans.py diffs it byte for byte, so the output
must not follow the caller's core count.

Usage: python tools/gen_plans.py > PLANS.md
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def normalize(plan: str) -> str:
    """Strip run-nondeterminism so PLANS.md is byte-reproducible and a
    pytest can diff a fresh regeneration against the committed file:
    temp dirs, plan_id counters and expression ids vary per session;
    the operator tree, pushdowns and exchange placement do not."""
    plan = re.sub(r"/tmp/lakeplan_[A-Za-z0-9_]+", "/tmp/lakeplan_X", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"#\d+", "#N", plan)
    return plan


def trim(plan: str, max_lines: int = 40) -> str:
    lines = [l.rstrip() for l in normalize(plan).splitlines() if l.strip()]
    # keep the operator tree + the scan detail blocks; drop column lists
    out = []
    for l in lines:
        if re.match(r"^\s*(Output|Input|Arguments|Functions|Aggregate Attributes|Keys|Results)\s*\[", l):
            continue
        out.append(l)
        if len(out) >= max_lines:
            out.append("   ... (truncated)")
            break
    return "\n".join(out)


def main() -> None:
    os.environ["SPARK_GRAFT_CPUS"] = "8"
    from pyspark.sql import functions as F

    from lakefs_spark.session import get_spark
    from lakefs_spark.storage.repo import Repository
    import __spark_entry__ as E

    spark = get_spark("plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, str]] = []

    root = tempfile.mkdtemp(prefix="lakeplan_")
    repo = Repository.create(spark, root)
    ents = E._snap(spark, SF, "entries")
    repo.import_entries("main", ents, message="base")

    # 1. point lookup: manifest pruning means ONE range file is scanned,
    # and the key predicate reaches the parquet scan
    some_key = ents.agg(F.max("key")).first()[0]
    pl = repo.snapshot("main").where(F.col("key") == some_key)
    sections.append(
        (
            "Point lookup (manifest-pruned snapshot read)",
            "The manifest selects the one range whose [min_key, max_key] "
            "interval contains the key BEFORE Spark plans the scan, so the "
            "FileScan lists a single content-addressed parquet file; the "
            "equality predicate is in PushedFilters — row-group pruning "
            "applies on top.",
            trim(formatted(pl)),
        )
    )

    # 2. diff: changed-range pruning + sort-merge full outer join
    sa = E.staged_view(spark, "staged_active")
    repo.create_branch("b", "main")
    repo.stage_entries("b", sa.where(~F.col("is_tombstone")))
    repo.commit("b", "change")
    d = repo.diff("main", "b")
    sections.append(
        (
            "2-way diff (changed ranges only)",
            "Only ranges whose range_id differs between the two manifests "
            "are read (the FileScans below list just those files); the "
            "row-level comparison is one full-outer sort-merge join on key.",
            trim(formatted(d)),
        )
    )

    # 3. GC mark: two anti-joins, no cartesian
    listing = repo.reachable_addresses(repo.active_commits(7.0))
    mark = repo.gc_mark(listing.limit(100000), 7.0)
    sections.append(
        (
            "GC mark (listing ∖ committed ∖ uncommitted)",
            "Same algebra as the reference's Spark job (GarbageCollection."
            "scala:205-210) but as ONE tagged-union hash aggregation "
            "instead of two anti-joins: every stream contributes "
            "(address, tag) rows, max(tag) per address decides the "
            "verdict, and map-side partial aggregation collapses "
            "snapshot-shared duplicates before the single exchange — no "
            "join, no distinct pre-pass.",
            trim(formatted(mark)),
        )
    )

    # 3b. commit-apply COW overlay: broadcast anti-join, no window
    from lakefs_spark.storage.commit_apply import cow_overlay
    from lakefs_spark.schema import ENTRY_COLS

    base_rows = repo.snapshot("main")
    ch = sa.limit(500).select("is_tombstone", *ENTRY_COLS)
    sections.append(
        (
            "Commit-apply COW overlay (anti-join, not window)",
            "The deduped change stream turns layer precedence into a "
            "left-anti join: touched base rows flow map-side past a "
            "broadcast of the change keys, surviving change rows union "
            "in — no partitionBy(key) shuffle+sort of the touched "
            "payload, no Window operator.",
            trim(formatted(cow_overlay(base_rows, ch))),
        )
    )

    # 4. minhash candidates: banded equi-join, never all-pairs
    docs = E._docs(spark, SF).where(F.col("doc_id") < 200)
    from lakefs_spark.operators import dedup as D

    cand = D.minhash_candidates(docs, num_hashes=32, bands=8)
    sections.append(
        (
            "MinHash LSH candidates (banded equi-join)",
            "Signatures are k multiply-adds over ONE base hash per shingle "
            "(all JVM); candidate pairs come from an equi-join on "
            "(band_id, band_hash) — the plan contains no cartesian product, "
            "so cost scales with bucket collisions, not corpus².",
            trim(formatted(cand)),
        )
    )

    # 4b. bloom decontamination probe: broadcast joins + bit tests
    from lakefs_spark.operators.text import bloom_decontaminate

    bl = bloom_decontaminate(
        docs, E._docs(spark, SF).where(F.col("doc_id") >= 450)
    )
    sections.append(
        (
            "Bloom-prefiltered decontamination (corpus never shuffles)",
            "The eval shingle set folds into a 2^18-bit bitmap (<= 8k "
            "32-bit words); the training shingle stream is probed by k=3 "
            "BROADCAST hash joins + JVM bit tests, so the corpus side "
            "reaches no exchange before the filter — only Bloom "
            "candidates enter the exact verify join.",
            trim(formatted(bl)),
        )
    )

    # 4c. exact-substring dedup: window shuffle + gaps-and-islands
    from lakefs_spark.operators.dedup import duplicated_window_spans

    ss = duplicated_window_spans(docs, n=8)
    sections.append(
        (
            "Exact-substring duplicate spans (window shuffle + islands)",
            "ExactSubstr (Lee et al. 2021) relationally: fixed-n token "
            "windows are ONE JVM transform/explode projection, duplication "
            "is a window count partitioned by the window text (one "
            "exchange), and maximal spans fall out of the gaps-and-islands "
            "fold on (doc, pos) (one more exchange) — no suffix array, no "
            "cartesian, no Python in the row path.",
            trim(formatted(ss)),
        )
    )

    # 4d. DSIR importance: broadcast weight table, one doc aggregation
    from lakefs_spark.operators.pipeline import dsir_importance

    dsir = dsir_importance(docs, docs.where(F.col("source") == "src0"), n_buckets=512)
    sections.append(
        (
            "DSIR importance weights (broadcast weight table)",
            "The hashed n-gram bucket-weight table (≤ n_buckets rows, "
            "KB-sized at any corpus size) BROADCASTS into a hash join "
            "against the corpus feature stream; the per-doc score is ONE "
            "hash aggregation on doc_id. The only nested-loop is the "
            "sanctioned one-row totals broadcast.",
            trim(formatted(dsir)),
        )
    )

    # 4e. dedup-on-commit: new-docs semi-join BEFORE the probe join
    from lakefs_spark.operators.dedup import incremental_minhash_candidates

    new_ids = docs.select("doc_id").where(F.col("doc_id") % 10 == 0)
    inc = incremental_minhash_candidates(docs, new_ids, num_hashes=32, bands=8)
    sections.append(
        (
            "Incremental MinHash candidates (probe side pre-filtered)",
            "The diff-derived new-doc set semi-joins the band stream "
            "BEFORE the (band_id, band_hash) probe equi-join, so a 1% "
            "commit shuffles 1% of the band volume; old×old pairs are "
            "never generated and the plan has no cartesian product.",
            trim(formatted(inc)),
        )
    )

    # 5. as-of join: single shuffle merge-scan
    from lakefs_spark.operators.asof import asof_join

    ev = spark.table("events")
    left = ev.select(F.col("user_id").alias("uid"), F.col("ts").alias("lts")).limit(10000)
    right = ev.select(F.col("user_id").alias("uid"), F.col("ts").alias("rts"), "event_type").limit(10000)
    aj = asof_join(left, right, on=["uid"], left_ts="lts", right_ts="rts")
    sections.append(
        (
            "As-of join (merge-scan)",
            "Both sides shuffle ONCE on the join key, then a per-partition "
            "ordered scan pairs each left row with the latest right row — "
            "no range-condition nested loop, no per-row Python.",
            trim(formatted(aj)),
        )
    )

    buf = io.StringIO()
    print("# PLANS — physical-plan audit of the flagship operators\n", file=buf)
    print(
        "Regenerate with `python tools/gen_plans.py > PLANS.md`. The\n"
        "machine-checked versions of these properties are in\n"
        "tests/test_plans.py; this file is the human-readable excerpt\n"
        "(column lists elided).\n",
        file=buf,
    )
    for title, note, plan in sections:
        print(f"## {title}\n", file=buf)
        print(note + "\n", file=buf)
        print("```\n" + plan + "\n```\n", file=buf)
    sys.stdout.write(buf.getvalue())


if __name__ == "__main__":
    main()
