"""The benchmark's workloads.

A workload builds its inputs from the seed (``build``), computes what the
outputs must be (``prepare``), warms up, and then runs ops in a closed loop
with one client.  An op is ``before`` (untimed preparation), ``call`` (the
timed calls into the engine) and ``check`` (untimed), which compares the
op's committed outputs with expectations computed from the generated inputs
without the engine -- a plain Spark aggregate over the generator's planted
tags, a plain distinct count, or a recomputation in Python -- and returns
the mismatches.

``corrupt`` is the self-test hook: when set, ``check`` first damages the
op's committed output (drops one row), and must then report a mismatch.
"""

from __future__ import annotations

import contextlib
import inspect
import io
import os
import shutil

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import dff.runner as runner_mod
from dff.checkpoint import CHECKPOINT_SCHEMA, CheckpointStore, ViolationsSink
from dff.dedup import minhash_dedup_pairs, simhash, simhash_near_dup_pairs
from dff.drift import CategoricalBins, DriftSpec, NumericBins, snapshot
from dff.ruleset import parse_json
from dff.runner import ReferentialCheck, ValidationConfig, ValidationRunner
from dff.sources import ALLOWED_LANGS, commits_dim, synthetic_documents, synthetic_source_files
from dff.tablefmt import Table

from spans import trace_lines

# The rule set, referential check and drift spec jobs/validate.py applies to
# synthetic source tables.
RULES = {
    "version": "source-v1",
    "sensitivity": 0.7,
    "rules": [
        {"id": "C_null_lang", "name": "lang is null", "requires": []},
        {"id": "C_empty", "name": "length(content) = 0", "requires": ["C_null_lang"]},
        {"id": "C_huge", "name": "length(content) > 10485760", "requires": ["C_empty"]},
    ],
}
DRIFT = DriftSpec(
    numeric=[
        NumericBins(
            "content_length",
            tuple(float(2**i) for i in range(4, 14)),
            expr="length(content)",
        )
    ],
    categorical=[CategoricalBins("lang", tuple(ALLOWED_LANGS))],
)
CONSTRAINTS = ("C_null_lang", "C_empty", "C_ref_commit", "uniqueness")
N_PARTS = 64


def _drop_one_row(directory: str) -> None:
    """Rewrite the first non-empty parquet file under ``directory`` without
    its first row (the self-test's corruption)."""
    for dirpath, _, files in sorted(os.walk(directory)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                t = pq.read_table(p)
                if t.num_rows:
                    pq.write_table(t.slice(1), p)
                    return
    raise FileNotFoundError(f"no non-empty parquet file under {directory}")


def _parquet_rows(path: str, columns: list[str]) -> list[dict]:
    """Committed rows under ``path``; hidden (staging) files are skipped."""
    return pads.dataset(path, format="parquet").to_table(columns=columns).to_pylist()


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark, self.work, self.seed, self.sizes = spark, work, seed, sizes
        self.inputs = ""  # directory ``build`` wrote the inputs under
        self.tracer = None
        self.corrupt = False
        self.n_ops = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def warm(self) -> list[str]:
        """One untimed op (compilation, JIT, Python workers), checked."""
        st = self.before()
        self.call(st)
        return self.check(st)


# ------------------------------------------------------------ snapshot_validate


def planted_counts(df, group_col: str) -> dict:
    """Expected rows and per-constraint violations per ``group_col`` value,
    from the generator's ``planted`` tags.  Rules are first-match, so a NULL
    lang hides an empty content; both rows of a planted duplicate carry the
    tag and one of them (the surplus copy) is the violation."""

    def tag(t):
        return F.array_contains("planted", t).cast("long")

    out = {}
    for r in df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(tag("null_lang")).alias("C_null_lang"),
        F.sum(tag("empty_content") * (1 - tag("null_lang"))).alias("C_empty"),
        F.sum(tag("orphan_commit")).alias("C_ref_commit"),
        F.sum(tag("dup")).alias("uniqueness"),
    ).collect():
        d = r.asDict()
        d["uniqueness"] //= 2
        out[d.pop(group_col)] = d
    return out


class SnapshotValidate(Workload):
    """One op is ``ValidationRunner.run`` over a parquet snapshot into an
    empty checkpoint store, then a resume: ``run`` over the same snapshot
    into a store pre-seeded with 3/4 of the partitions."""

    name = "snapshot_validate"

    def build(self, out: str) -> None:
        s = self.sizes
        synthetic_source_files(
            self.spark, s["rows"], n_repos=s["repos"], n_parts=N_PARTS, seed=self.seed
        ).write.parquet(os.path.join(out, "src"))

    def prepare(self) -> None:
        self.df = self.spark.read.parquet(os.path.join(self.inputs, "src"))
        self.expected = planted_counts(self.df, "part_id")
        self.seeded = set(range(N_PARTS * 3 // 4))
        self.pending_rows = sum(
            e["rows"] for p, e in self.expected.items() if p not in self.seeded
        )
        self.runner = ValidationRunner(ValidationConfig(
            ruleset=parse_json(RULES),
            referential=[
                ReferentialCheck(
                    commits_dim(self.spark, self.sizes["repos"]), ["repo", "commit"],
                    "C_ref_commit", dim_is_distinct=True,
                )
            ],
            drift_spec=DRIFT,
            drift_baseline=snapshot(self.df.sample(0.05, seed=1), DRIFT),
            snapshot_id=f"snap-{self.seed}",
        ))

    def warm(self) -> list[str]:
        """A one-shot run, checked against the planted tags, then one resume.
        The one-shot checkpoint rows are the reference for every later op
        and seed the resumes."""
        ref = CheckpointStore(self.spark, self.path("ref"))
        self.runner.run(self.df, ref, self.path("ref-viol")).unpersist()
        self.reference, bad = self._read_rows(ref.path)
        bad += self._check_rows(self.reference, set(self.expected))
        self.seed_rows = (
            self.spark.read.schema(CHECKPOINT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(ref.path)
            .where(F.col("partition_id").isin(sorted(self.seeded)))
        )
        st = self.before()
        self._run("resume.", st["resume"], st["resume_viol"])
        bad += self._check_kind(st, "resume")
        self._cleanup(st)
        return bad

    def _read_rows(self, path: str) -> tuple[dict, list[str]]:
        rows = _parquet_rows(path, ["partition_id", "rows", "violations", "verdict", "metrics"])
        for r in rows:
            r["metrics"] = dict(r["metrics"])
        by_part = {r["partition_id"]: r for r in rows}
        bad = [] if len(by_part) == len(rows) else [
            f"{len(rows) - len(by_part)} partitions checkpointed twice"
        ]
        return by_part, bad

    def _check_rows(self, rows: dict, parts: set) -> list[str]:
        """Checkpoint rows of ``parts`` against the planted tags."""
        bad = []
        if set(rows) != parts:
            bad.append(f"checkpointed partitions differ: {sorted(set(rows) ^ parts)[:5]}")
        for p in set(rows) & parts:
            r, e = rows[p], self.expected[p]
            want = (e["rows"], sum(e[c] for c in CONSTRAINTS))
            if (r["rows"], r["violations"]) != want:
                bad.append(f"partition {p}: (rows, violations) "
                           f"{(r['rows'], r['violations'])} != planted {want}")
            for c in CONSTRAINTS:
                if int(r["metrics"].get(c, 0)) != e[c]:
                    bad.append(f"partition {p}: {c} {r['metrics'].get(c, 0)} != planted {e[c]}")
        return bad

    def _check_violations(self, path: str, parts: set) -> list[str]:
        got: dict[str, int] = {}
        for r in _parquet_rows(path, ["constraint_id"]):
            got[r["constraint_id"]] = got.get(r["constraint_id"], 0) + 1
        want: dict[str, int] = {}
        for p in parts:
            for c in CONSTRAINTS:
                if self.expected[p][c]:
                    want[c] = want.get(c, 0) + self.expected[p][c]
        return [] if got == want else [f"violation rows {got} != planted {want}"]

    def _run(self, prefix: str, store, viol: str) -> None:
        with self._spans(prefix):
            result = self.runner.run(self.df, store, viol)
        result.unpersist()

    def _spans(self, prefix: str):
        """Spans around the calls ``run()`` makes, in its order."""
        t = self.tracer
        if t is None:
            return contextlib.nullcontext()
        stack = contextlib.ExitStack()
        stack.enter_context(t.span(prefix + "runner.run"))
        stack.enter_context(
            t.patched(runner_mod, "plan_pending", prefix + "checkpoint.plan_pending", phase=True)
        )
        stack.enter_context(t.patched(ValidationRunner, "validate", prefix + "runner.validate"))
        stack.enter_context(
            t.patched(ViolationsSink, "write", prefix + "checkpoint.violations_sink")
        )
        stack.enter_context(
            t.patched(CheckpointStore, "append", prefix + "checkpoint.store_append")
        )
        return stack

    def before(self):
        i = self.n_ops
        resume = CheckpointStore(self.spark, self.path(f"resume{i}"))
        resume.append(self.seed_rows)
        return {
            "full": CheckpointStore(self.spark, self.path(f"full{i}")),
            "resume": resume,
            "full_viol": self.path(f"full{i}-viol"),
            "resume_viol": self.path(f"resume{i}-viol"),
        }

    def call(self, st) -> None:
        self._run("", st["full"], st["full_viol"])
        self._run("resume.", st["resume"], st["resume_viol"])

    def _check_kind(self, st, kind: str) -> list[str]:
        every = set(self.expected)
        rows, bad = self._read_rows(st[kind].path)
        bad += self._check_rows(rows, every)
        # seeded rows plus resumed rows must equal the one-shot rows
        bad += [
            f"partition {p} differs from the one-shot run"
            for p, r in rows.items() if r != self.reference.get(p)
        ]
        parts = every - self.seeded if kind == "resume" else every
        bad += self._check_violations(st[kind + "_viol"], parts)
        return [f"{kind}: {m}" for m in bad]

    def _cleanup(self, st) -> None:
        for p in st.values():
            shutil.rmtree(p if isinstance(p, str) else p.path, ignore_errors=True)

    def check(self, st) -> list[str]:
        if self.corrupt:
            _drop_one_row(st["full_viol"])
        bad = self._check_kind(st, "full") + self._check_kind(st, "resume")
        self._cleanup(st)
        return bad


# ----------------------------------------------------------------- corpus_build


def build_documents(spark, n: int, seed: int, out: str) -> None:
    """``n`` synthetic documents in 4 source domains, with

    - a near-duplicate of the previous doc every 50th doc (generator's plant),
    - a verbatim copy (new ``doc_id``) of every doc with ``doc_id % 50 == 7``
      (2% exact duplicates),
    - a 15-character junk doc every 499th doc (dropped by the quality rules),
    - an eval set (``bench``) of the text of every 997th doc.
    """
    docs = synthetic_documents(spark, n, dup_every=50, seed=seed).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 499 == 11,
            F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 15),
        ).otherwise(F.col("text")),
    )
    docs = docs.unionByName(
        docs.where(F.col("doc_id") % 50 == 7).withColumn("doc_id", F.col("doc_id") + n)
    )
    source = F.concat(
        F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(4)).cast("string")
    )
    docs.select(
        "doc_id", "text", source.alias("source"), F.length("text").alias("n_chars")
    ).write.parquet(os.path.join(out, "docs"))
    docs.where(F.col("doc_id") % 997 == 3).select("doc_id", "text").write.parquet(
        os.path.join(out, "bench")
    )


class CorpusBuild(Workload):
    """One op is ``jobs/build_corpus.main`` over the documents, publishing to
    a fresh Table, then the near-duplicate search (``NearDup``) over the same
    documents."""

    name = "corpus_build"
    # section comments in build_corpus.main -> span of the lines under them
    STAGES = {
        "# 1. QUALITY": "textops.quality",
        "# 2. DEDUP": "dedup.exact",
        "# 3. DECONTAM": "contamination.decontam",
        "# 4. MIXTURE": "mixing.plan",
        "# 5. PACK": "tablefmt.wap_publish",
    }

    def build(self, out: str) -> None:
        build_documents(self.spark, self.sizes["docs"], self.seed, out)

    def prepare(self) -> None:
        import build_corpus

        self.main = build_corpus.main
        docs = self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        # exact dedup keeps one doc per distinct text among the docs that
        # pass the quality rules (all but the short junk docs)
        self.distinct_texts = (
            docs.where(F.length("text") >= 20).select("text").distinct().count()
        )
        lines, first = inspect.getsourcelines(self.main)
        self.line_stages = {
            first + i: name
            for i, line in enumerate(lines)
            for marker, name in self.STAGES.items()
            if line.strip().startswith(marker)
        }
        self.near = NearDup(self.spark, self.work, self.seed, self.sizes)
        self.near.inputs = self.inputs
        self.near.prepare()

    def _near(self) -> "NearDup":
        """The near-duplicate search, tracing and corrupting as this op does."""
        self.near.tracer, self.near.corrupt = self.tracer, self.corrupt
        return self.near

    def warm(self) -> list[str]:
        """One untimed op, then two more near-duplicate passes: the first
        pass compiles the signature expressions, the next two let the JIT
        catch up with the signature and banding loops."""
        problems = super().warm()
        for _ in range(2):
            problems += self._near().warm()
        return problems

    def before(self):
        return {"out": self.path(f"corpus{self.n_ops}")}

    def call(self, st) -> None:
        argv = [
            "--src", os.path.join(self.inputs, "docs"),
            "--out", st["out"],
            "--benchmark", os.path.join(self.inputs, "bench"),
            "--parallelism", "4",
            "--seq-len", "512",
            "--n-shards", "8",
            "--budget-frac", "0.8",
            "--seed", str(self.seed),
        ]
        with contextlib.ExitStack() as stack:
            stack.enter_context(contextlib.redirect_stdout(io.StringIO()))
            if self.tracer:
                stack.enter_context(self.tracer.span("corpus.main"))
                stack.enter_context(trace_lines(self.tracer, self.main, self.line_stages))
            st["summary"] = self.main(argv)
        self._near().call(st)

    def check(self, st) -> list[str]:
        s, bad = st["summary"], self._near().check(st)
        if s["rows_dedup"] != self.distinct_texts:
            bad.append(f"rows_dedup {s['rows_dedup']} != distinct texts {self.distinct_texts}")
        if s["layout_violations"] != 0 or not s["published"]:
            bad.append(f"layout_violations {s['layout_violations']}, published {s['published']}")
        if self.corrupt:
            _drop_one_row(os.path.join(st["out"], "data"))
        n = Table(st["out"]).scan(self.spark).count()
        if n != s["rows_packed"]:
            bad.append(f"published rows {n} != rows_packed {s['rows_packed']}")
        shutil.rmtree(st["out"], ignore_errors=True)
        return bad


# ------------------------------------------------- corpus_build: near-dup search


def planted_pairs(n: int) -> set:
    """The pairs ``build_documents`` plants: each near-duplicate with the doc
    it copies (unless either is a junk doc) and each verbatim copy."""
    def junk(i):
        return i % 499 == 11

    near = {(i - 1, i) for i in range(1, n) if i % 50 == 1 and not junk(i - 1) and not junk(i)}
    return near | {(i, i + n) for i in range(n) if i % 50 == 7}


def _shingles(text: str, k: int = 9) -> set:
    t = " ".join(text.lower().split())  # dff.textops.normalize_text
    return {t[i:i + k] for i in range(len(t) - k + 1)}


class NearDup(Workload):
    """The near-duplicate part of a ``corpus_build`` op: ``minhash_dedup_pairs``
    then ``simhash_near_dup_pairs`` over the documents, each collected."""

    MINHASH_THRESHOLD = 0.7
    MAX_HAMMING = 3
    # est_jaccard from 64 hashes has a standard deviation of at most
    # sqrt(1/4 / 64) = 0.0625; five of them is the allowed error
    JACCARD_TOL = 5 * 0.0625

    def prepare(self) -> None:
        self.docs = self.spark.read.parquet(os.path.join(self.inputs, "docs")).select(
            "doc_id", "text"
        )
        rows = self.docs.withColumn("sh", simhash("text", 9)).collect()
        self.shingles = {r["doc_id"]: _shingles(r["text"]) for r in rows}
        self.sketch = {r["doc_id"]: r["sh"] for r in rows}
        self.planted = planted_pairs(self.sizes["docs"])
        self.verbatim = {(a, b) for a, b in self.planted if b >= self.sizes["docs"]}

    def before(self):
        return {}

    def call(self, st) -> None:
        with self.span("near_dup.pass"):
            with self.span("dedup.minhash_pairs"):
                st["minhash"] = minhash_dedup_pairs(
                    self.docs, "doc_id", "text", threshold=self.MINHASH_THRESHOLD
                ).collect()
            with self.span("dedup.simhash_pairs"):
                st["simhash"] = simhash_near_dup_pairs(
                    self.docs, "doc_id", "text", max_hamming=self.MAX_HAMMING
                ).collect()

    def check(self, st) -> list[str]:
        bad = []
        mh = sorted((r["id_a"], r["id_b"], r["est_jaccard"]) for r in st["minhash"])
        if self.corrupt:
            mh = mh[1:]
        for a, b, est in mh:
            sa, sb = self.shingles[a], self.shingles[b]
            exact = len(sa & sb) / len(sa | sb)
            if (exact < self.MINHASH_THRESHOLD - self.JACCARD_TOL
                    or abs(est - exact) > self.JACCARD_TOL):
                bad.append(f"minhash pair ({a}, {b}): est {est:.3f}, exact Jaccard {exact:.3f}")
        # planted pairs have Jaccard >= 0.97; with 16 bands of 4 rows LSH
        # misses one with probability below 1e-15
        missed = self.planted - {(a, b) for a, b, _ in mh}
        if missed:
            bad.append(f"minhash missed {len(missed)} planted pairs, e.g. {sorted(missed)[:3]}")
        sh = {(r["id_a"], r["id_b"]): r["hamming"] for r in st["simhash"]}
        for (a, b), h in sh.items():
            exact = bin((self.sketch[a] ^ self.sketch[b]) & (2**64 - 1)).count("1")
            if h != exact or h > self.MAX_HAMMING:
                bad.append(f"simhash pair ({a}, {b}): hamming {h}, recomputed {exact}")
        # identical sketches share every bucket, so no verbatim pair is missed
        missed = self.verbatim - set(sh)
        if missed:
            bad.append(f"simhash missed {len(missed)} verbatim pairs, e.g. {sorted(missed)[:3]}")
        return bad


WORKLOADS = {w.name: w for w in (SnapshotValidate, CorpusBuild)}
