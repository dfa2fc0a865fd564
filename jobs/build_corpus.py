"""End-to-end training-corpus build: the engine's flagship composition.

One spark-submit job takes raw documents to a published, packed training
corpus, with every stage a dff primitive and the final visibility gated
by the engine itself:

  1. QUALITY   — rule-DAG audit over derived text-quality columns
                 (length, quality score, repetition); violating docs drop.
  2. DEDUP     — exact content dedup (xxhash64 groupBy, min-id survivor),
                 then OPTIONAL semantic dedup (dff/semdedup.py) when an
                 embeddings table is supplied.
  3. DECONTAM  — optional 3-gram benchmark-overlap anti-join.
  4. MIXTURE   — token-budget domain mixing (dff/mixing.py): weights +
                 budget -> per-domain rates, epochs upsample.
  5. PACK      — fixed-length context layout (dff/packing.py).
  6. PUBLISH   — the packed layout lands on a Write-Audit-Publish branch
                 of a native Table; a second rule DAG audits the LAYOUT
                 (offsets in range, spans >= 1) and only a green audit
                 publishes to main.

At 100 TB each stage keeps its established scale shape: the quality and
mixture passes are map-only, dedup shuffles 8-byte hashes, packing
shuffles (key, token) pairs, and the WAP audit costs O(batch) via
``scan_added``.

Stages 2-3 drop nothing on their own: each derives a small set of doc ids
(exact-dedup losers, semantic drops, contaminated docs) that is left-joined
onto the quality survivors as a tag, so no count re-runs the stages before
it.  Actions a build takes, in order:
  1. the quality audit's ``validate()`` (its two collects fill the audit's
     caches); the raw row count comes from its per-source metrics;
  2. with ``--embeddings`` only: ``semantic_dedup``'s jobs over the exact
     survivors' vectors;
  3. one ``groupBy(source)`` collect over the tagged frame: it fills the
     ``clean`` and tagged caches, runs exact dedup and decontamination
     once, and returns every stage count, the default weights and each
     source's availability; the mixture plan is computed from those rows
     on the driver;
  4. the branch append of the packed layout (mixture sample + packing,
     read from the tagged cache);
  5. the layout audit's ``validate()`` over the appended delta;
  6. publish (when the audit is green) and the context-total aggregate
     over the delta.

Usage:
  python jobs/build_corpus.py --src DOCS.parquet --out TABLE_ROOT
      [--weights '{"src1": 0.5, "src2": 0.5}']   (default: uniform)
      [--budget-frac 0.5] [--seq-len 2048] [--n-shards 64]
      [--benchmark BENCH.parquet] [--min-chars 20]
      [--max-violation-rate 0.0] [--parallelism N] [--seed 17]

Prints ONE JSON line with per-stage row counts, the mixture plan, context
totals, and the publish verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def quality_rules(min_chars: int) -> dict:
    return {"rules": [
        {"id": "Q1", "name": "text is null", "requires": []},
        {"id": "Q2", "name": f"n_chars < {min_chars}", "requires": []},
        {"id": "Q3", "name": "__quality < 0.15", "requires": []},
        {"id": "Q4", "name": "__repetition > 0.9", "requires": []},
    ]}


def layout_rules(seq_len: int) -> dict:
    return {"rules": [
        {"id": "L1", "name": "start_off < 0", "requires": []},
        {"id": "L2", "name": f"ctx_off >= {seq_len}", "requires": []},
        {"id": "L3", "name": "n_ctx < 1", "requires": []},
        {"id": "L4", "name": "epoch < 0", "requires": []},
    ]}


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True, help="documents parquet "
                    "(doc_id, text, source, n_chars)")
    ap.add_argument("--out", required=True, help="output Table root")
    ap.add_argument("--weights", help="JSON domain->weight; default uniform "
                    "over observed sources")
    ap.add_argument("--budget-frac", type=float, default=0.5,
                    help="token budget as a fraction of the post-filter pool")
    ap.add_argument("--seq-len", type=int, default=2048)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--benchmark", help="eval-set parquet (doc_id, text) to "
                    "decontaminate against")
    ap.add_argument("--embeddings", help="embeddings parquet (vec_id, "
                    "embedding) keyed like doc_id: enables semantic dedup")
    ap.add_argument("--semantic-threshold", type=float, default=0.95)
    ap.add_argument("--semantic-centroids", type=int, default=16)
    ap.add_argument("--min-chars", type=int, default=20)
    ap.add_argument("--max-violation-rate", type=float, default=0.0)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--seed", type=int, default=17)
    args = ap.parse_args(argv)

    from validate import build_session

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dff.dedup import exact_duplicate_losers
    from dff.mixing import mixture_plan_from_avail, mixture_sample
    from dff.packing import pack_sequences
    from dff.ruleset import parse_json
    from dff.runner import ValidationConfig, ValidationRunner
    from dff.tablefmt import Table
    from dff.textops import quality_score, repetition_ratio

    owns_session = SparkSession.getActiveSession() is None
    spark = build_session(args.parallelism, app="dff-build-corpus")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.src)

    # 1. QUALITY — derive the scored columns once, audit with the DAG,
    # keep only docs with zero violations (anti-join on the key).
    scored = docs.withColumn("__quality", quality_score("text")).withColumn(
        "__repetition", repetition_ratio("text")
    )
    qruleset = parse_json(quality_rules(args.min_chars))
    qcfg = ValidationConfig(
        ruleset=qruleset,
        key_cols=("doc_id",),
        part_col="source",
        unique_keys=("doc_id",),
        partition_spec="by(source)",
    )
    qres = ValidationRunner(qcfg).validate(scored)
    # the audit's per-source rollup counted every input row
    n_raw = sum(m["rows"] for m in qres.partition_metrics.collect())
    bad_ids = qres.violations.select("doc_id").distinct()
    # `clean` feeds the loser, semantic and contamination sets and the
    # tagged frame: persist it before anything reads it.  The uniqueness
    # rule drops every row of a repeated doc_id, so from here on a doc_id
    # names one row (or is NULL, which no tag join matches).
    clean = (
        scored.join(bad_ids, "doc_id", "left_anti")
        .drop("__quality", "__repetition")
        .persist()
    )

    # 2. DEDUP — tag, do not drop: exact losers (a lower doc_id holds the
    # same text), then, when embeddings are supplied, semantic drops among
    # the exact survivors.  Each tag is a left join with a distinct id set.
    tagged = clean.join(
        exact_duplicate_losers(clean, "text", "doc_id").withColumn(
            "__lost", F.lit(True)
        ),
        "doc_id",
        "left",
    )
    exact_kept = F.col("__lost").isNull()
    deduped = exact_kept
    if args.embeddings:
        from dff.semdedup import semantic_dedup

        emb = spark.read.parquet(args.embeddings).select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        verd = semantic_dedup(
            # survivors' vectors only
            tagged.where(exact_kept).select("doc_id").join(emb, "doc_id"),
            "doc_id",
            "embedding",
            threshold=args.semantic_threshold,
            n_centroids=args.semantic_centroids,
        )
        drops = verd.where(~F.col("kept")).select("doc_id").distinct()
        tagged = tagged.join(
            drops.withColumn("__sem", F.lit(True)), "doc_id", "left"
        )
        deduped = exact_kept & F.col("__sem").isNull()

    # 3. DECONTAM — optional: tag docs sharing a 3-gram with the benchmark.
    kept = deduped
    if args.benchmark:
        from dff.contamination import contaminated_docs

        bench = spark.read.parquet(args.benchmark)
        contam = contaminated_docs(clean, bench, "doc_id", "text", n=3)
        tagged = tagged.join(
            contam.select("doc_id", F.lit(True).alias("__contam")),
            "doc_id",
            "left",
        )
        kept = deduped & F.col("__contam").isNull()
    # quality, dedup and decontamination run once, filling this cache
    tagged = tagged.persist()

    # 4. MIXTURE — one aggregate (one row per source) gives every stage
    # count, the default weights and the availability the plan needs.
    def n_where(cond):
        return F.count(F.when(cond, 1))

    stats = (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            n_where(exact_kept).alias("n_dedup"),
            n_where(exact_kept & ~deduped).alias("n_semantic"),
            n_where(deduped & ~kept).alias("n_contam"),
            n_where(kept).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars").cast("long"))).alias("avail"),
        )
        .collect()
    )
    # tagged's cache is filled now; clean and the quality audit's caches
    # are dead weight
    clean.unpersist()
    qres.unpersist()
    n_quality = sum(r["n"] for r in stats)
    n_dedup = sum(r["n_dedup"] for r in stats)
    n_semantic_dropped = sum(r["n_semantic"] for r in stats)
    n_contaminated = sum(r["n_contam"] for r in stats)
    if args.weights:
        weights = {k: float(v) for k, v in json.loads(args.weights).items()}
    else:
        weights = {r["source"]: 1.0 for r in stats if r["n_kept"]}
    avail = {r["source"]: r["avail"] for r in stats if r["source"] is not None}
    # budget as a fraction of the surviving chars of every weighted source
    total = sum(avail[d] or 0 for d in weights if d in avail)
    budget = int(total * args.budget_frac)
    plan = mixture_plan_from_avail(avail, weights, budget)
    surv = tagged.where(kept).select(*clean.columns)
    mixed = mixture_sample(surv, "source", ["doc_id"], plan, seed=args.seed)

    # 5. PACK — fixed-length context layout over the sampled multiset.
    packed = pack_sequences(
        mixed,
        "n_chars",
        args.seq_len,
        ["doc_id", "epoch"],
        n_shards=args.n_shards,
        seed=args.seed,
    ).select(
        "doc_id", "source", "n_chars", "epoch",
        "shard", "start_off", "ctx_id", "ctx_off", "n_ctx",
    )

    # 6. PUBLISH — WAP branch + layout audit gates main's visibility.
    if not Table.exists(args.out):
        Table.create(args.out, packed.schema)
    t = Table(args.out)
    branch = f"corpus-{uuid.uuid4().hex[:8]}"
    br = t.create_branch(branch)
    br.append(packed)
    delta = br.scan_added(spark, since_version=0)
    lruleset = parse_json(layout_rules(args.seq_len))
    lcfg = ValidationConfig(
        ruleset=lruleset,
        key_cols=("doc_id", "epoch"),
        part_col="shard",
        unique_keys=("doc_id", "epoch"),
        partition_spec="by(shard)",
    )
    lres = ValidationRunner(lcfg).validate(delta)
    lres.unpersist()
    # the audit's per-shard rollup counted the delta's rows and violations
    layout = lres.partition_metrics.collect()
    n_packed = sum(m["rows"] for m in layout)
    n_viol = sum(m["violations"] for m in layout)
    rate = (n_viol / n_packed) if n_packed else 0.0
    version = None
    if rate <= args.max_violation_rate:
        version = t.publish_branch(branch)
    t.drop_branch(branch)

    # aggregate over the MATERIALIZED branch delta (a parquet read of the
    # just-written files), not the lazy `packed` lineage — the latter would
    # re-run the whole pipeline one more time
    n_ctx_total = (
        delta.groupBy("shard")
        .agg(F.max(F.col("ctx_id") + F.col("n_ctx")).alias("c"))
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    tagged.unpersist()
    out = {
        "rows_raw": n_raw,
        "rows_quality": n_quality,
        "rows_dedup": n_dedup,
        "rows_semantic_dropped": n_semantic_dropped,
        "rows_contaminated": n_contaminated,
        "budget_chars": budget,
        "mixture": {
            d: {"rate": round(s.rate, 6), "copies": s.copies, "avail": s.avail}
            for d, s in sorted(plan.items())
        },
        "rows_packed": n_packed,
        "contexts": int(n_ctx_total or 0),
        "layout_violations": n_viol,
        "published": version is not None,
        "version": version,
    }
    print(json.dumps(out))
    if owns_session:
        spark.stop()
    return out


if __name__ == "__main__":
    main()
