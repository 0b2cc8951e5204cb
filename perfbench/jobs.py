"""The workloads' closed-loop operations and output checks.

Each workload generates its inputs from the seed, runs ``prime`` (its
operation once, untimed, on a slice of the input: the Python workers
start, the perplexity model loads, the plan compiles and the JIT
settles) and then runs one operation at a time (a full job or one
incremental commit) until the measuring window ends. Each timed
operation collects, through an observation, the verdicts the output
check reads.

``warmup`` runs the two row kernels of the Python workers (html
extraction and perplexity) over ``warm_paths``, one task per core: it
starts every Python worker of a new session and loads the perplexity
model.
"""

from __future__ import annotations

import glob
import os
import random
from dataclasses import dataclass, field

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Observation
from pyspark.sql import functions as F

import checks
import workloads
from gemproc2caom2_spark.functions.perplexity import perplexity_udf
from gemproc2caom2_spark.operators.dedup import mark_semantic_duplicates
from gemproc2caom2_spark.operators.embed import with_centered_vector, with_text_embedding
from gemproc2caom2_spark.operators.extract import extract_text_udf
from gemproc2caom2_spark.plans.checkpoint import committed_results, compact_runs, run_incremental
from gemproc2caom2_spark.plans.pipeline import curate, unpersist_curate_cache

EMB_DIM = 64  # emb3's semantic-dedup settings
SEMANTIC = dict(threshold=0.95, bits=6, tables=8, dim=EMB_DIM, key_col="vec_id",
                vec_col="embedding", bucket_vec_col="cvec", int_exact=True, resolve_hops=2)
# drop reasons a doc can only get after passing every cheap Column gate
PASSED_GATES = ("perplexity", "duplicate")


@dataclass
class Op:
    kind: str  # job | commit | replay
    docs: int
    seconds: float
    digest: tuple | None = None
    group: str = ""  # Spark job group of a traced op
    cpu_s: float = 0.0  # CPU time of the driver JVM and Python workers


@dataclass
class Check:
    agreement: float
    problems: list[str] = field(default_factory=list)
    properties: dict = field(default_factory=dict)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df, name: str, cols):
    obs = Observation(name)
    return df.observe(obs, *cols), obs


def cached_bytes(spark) -> int:
    return sum(i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def storage_memory(spark) -> int:
    return int(spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().memoryManager().maxOnHeapStorageMemory())


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def read_inputs(paths: list[str]) -> pd.DataFrame:
    return pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)


def verdict_properties(rows: pd.DataFrame, inputs: pd.DataFrame) -> dict:
    reasons = rows["drop_reason"]
    return {
        "docs": len(inputs),
        "gate_pass_share": float(reasons.isna().sum() + reasons.isin(PASSED_GATES).sum()) / len(rows),
        "duplicate_share": float((reasons == "duplicate").sum()) / len(rows),
        "recapture_share": 1.0 - len(rows) / len(inputs),
    }


def warmup(spark, paths: list[str]) -> None:
    """Extraction and perplexity over ``paths``, one task per core."""
    df = spark.read.parquet(*paths).repartition(spark.sparkContext.defaultParallelism)
    text = F.coalesce("text", extract_text_udf(F.when(F.col("text").isNull(), F.col("html"))))
    df.agg(F.bit_xor(F.xxhash64(text, perplexity_udf(text)))).first()


class Workload:
    """``paths`` are the input files, ``prime_paths`` and ``warm_paths``
    the slices the prime and ``warmup`` run on, ``docs`` the input rows
    per op."""

    name = ""

    def __init__(self, seed: int, seconds: float, work: str, tracer, root: str, smoke: bool):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer, self.root, self.smoke = tracer, root, smoke
        self.in_dir = os.path.join(work, "input")
        self.barrier_bytes: int | None = None  # cached by curate()'s barrier

    def read(self, spark, paths=None):
        return spark.read.parquet(*(paths or self.paths))

    def finish(self, spark) -> None:
        """Work after the window that belongs to the workload."""

    def layer_paths(self) -> list[str]:
        """Input files the isolated per-layer calls run on."""
        return self.paths

    def _curate(self, spark, i: int, paths=None):
        with self.tracer.span("op.barrier"):
            out = curate(self.read(spark, paths))
        if i == 0:
            self.barrier_bytes = cached_bytes(spark)
        return out

    def _check(self, rows: pd.DataFrame) -> Check:
        inputs = read_inputs(self.paths)
        captures = inputs["url"].value_counts().to_dict()
        agreement, problems = checks.label_agreement(rows, self.labels, captures)
        problems += checks.oracle_spot_check(rows, inputs, self.root, self.seed)
        props = verdict_properties(rows, inputs)
        props["input_bytes"] = self.in_bytes
        return Check(agreement, problems, props)


class FreshMixed(Workload):
    name = "fresh_mixed"

    def generate(self) -> None:
        n = 300 if self.smoke else 2400
        self.labels, self.in_bytes = workloads.fresh_mixed(self.seed, n, self.in_dir)
        self.paths = sorted(glob.glob(os.path.join(self.in_dir, "*.parquet")))
        self.warm_paths, self.prime_paths = self.paths[:1], self.paths[:2]
        self.docs = len(self.labels.category)

    def prime(self, spark) -> None:
        out = curate(self.read(spark, self.prime_paths))
        noop(out)
        unpersist_curate_cache(out)

    def op(self, spark, i: int) -> Op:
        with self.tracer.span("op", kind="job", i=i) as s:
            out = self._curate(spark, i)
            with self.tracer.span("op.sink"):
                cols = checks.digest_columns() + checks.collect_columns(checks.verdict_columns())
                df, obs = observed(out, f"d{i}", cols)
                noop(df)
            unpersist_curate_cache(out)
        self.observed = obs.get
        return Op("job", self.docs, s.seconds, checks.digest_of(self.observed))

    def check(self, spark) -> Check:
        return self._check(checks.collected(self.observed))


class RecrawlDups(Workload):
    name = "recrawl_dups"

    def generate(self) -> None:
        n = 150 if self.smoke else 500
        self.labels, self.in_bytes = workloads.recrawl_dups(self.seed, n, self.in_dir)
        self.paths = sorted(glob.glob(os.path.join(self.in_dir, "*.parquet")))
        self.warm_paths, self.prime_paths = self.paths[:1], self.paths[:2]
        self.docs = sum(self.labels.captures.values())

    def _job(self, spark, name: str, i: int = -1, paths=None):
        """curate(), then emb3's chain over the kept docs. Returns the
        frames to release, the semantic flags frame and both
        observations."""
        out = self._curate(spark, i, paths)
        # the observation sees every curated row; the filter sits above it
        cols = checks.digest_columns() + checks.collect_columns(checks.verdict_columns())
        cur, obs = observed(out, name, cols)
        kept = cur.where("keep").select(F.col("url_hash").alias("vec_id"), "scrubbed_text")
        # emb3's thin barrier: the embeddings feed the centering stats,
        # the bucket kernel and the flags join
        with self.tracer.span("op.fold_embed"):
            emb = with_text_embedding(kept, text_col="scrubbed_text", dim=EMB_DIM)
            emb = emb.select("vec_id", "embedding").persist(StorageLevel.MEMORY_AND_DISK)
            emb.count()
        # the marker's candidate fold and chain resolution run eagerly
        # (localCheckpoint barriers); the sink job then joins the flags
        with self.tracer.span("op.semantic"):
            sem = mark_semantic_duplicates(with_centered_vector(emb, dim=EMB_DIM), **SEMANTIC)
        sem_cols = checks.semantic_digest_columns("vec_id", "canonical_id") + checks.collect_columns(
            [F.col("vec_id"), F.col("is_duplicate")]
        )
        sem, sem_obs = observed(sem, "s" + name, sem_cols)
        return (out, emb), sem, obs, sem_obs

    @staticmethod
    def _release(frames) -> None:
        out, emb = frames
        emb.unpersist()
        unpersist_curate_cache(out)

    def prime(self, spark) -> None:
        frames, sem, _, _ = self._job(spark, "prime", paths=self.prime_paths)
        noop(sem)
        self._release(frames)

    def op(self, spark, i: int) -> Op:
        with self.tracer.span("op", kind="job", i=i) as s:
            frames, sem, obs, sem_obs = self._job(spark, f"d{i}", i)
            with self.tracer.span("op.sink"):
                noop(sem)
            self._release(frames)
        self.observed, self.sem_observed = obs.get, sem_obs.get
        digest = checks.digest_of(self.observed) + checks.digest_of(self.sem_observed)
        return Op("job", self.docs, s.seconds, digest)

    def check(self, spark) -> Check:
        rows, flags = checks.collected(self.observed), checks.collected(self.sem_observed)
        check = self._check(rows)
        urls = dict(zip(rows["url_hash"], rows["url"]))
        check.properties["semantic_agreement"] = checks.semantic_agreement(flags, urls, self.labels)
        check.properties["semantic_duplicate_share"] = float(flags["is_duplicate"].mean())
        return check


class IncrementalAppend(Workload):
    name = "incremental_append"
    REPLAY_EVERY = 3  # op i is a replay when i % 3 == 2

    def generate(self) -> None:
        # enough batches for two windows (a traced run) at >= 2 s per commit
        n_batches = int(self.seconds) + 6
        self.labels, self.batches = workloads.incremental_append(self.seed, n_batches, self.in_dir)
        self.out_dir = os.path.join(self.work, "committed")
        self.next_batch = 0
        self.committed: list[int] = []
        self.problems: list[str] = []
        self.rng = random.Random(self.seed)
        self.warm_paths = [self.batches[0].path]
        self.compact_s = 0.0
        self.stored_bytes = 0

    def prime(self, spark) -> None:
        """Commit the first batch, untimed: timed commits then probe a
        non-empty keys ledger, as every commit after the first does."""
        if not self.committed:
            self._commit(spark, 0, "b0000", replay=False)
            self.committed.append(0)
            self.next_batch = 1

    def _commit(self, spark, b: int, run_id: str, replay: bool) -> float:
        batch = self.batches[b]
        with self.tracer.span("op", kind="replay" if replay else "commit") as s:
            _, n = run_incremental(spark, self.read(spark, [batch.path]), self.out_dir, run_id=run_id)
        want = 0 if replay else len(batch.urls)
        if n != want:
            self.problems.append(f"{run_id}: committed {n} docs, expected {want}")
        return s.seconds

    def op(self, spark, i: int) -> Op:
        if i % self.REPLAY_EVERY == 2:
            b = self.rng.choice(self.committed)
            seconds = self._commit(spark, b, f"replay-{i:04d}", replay=True)
            return Op("replay", self.batches[b].docs, seconds)
        if self.next_batch >= len(self.batches):
            raise RuntimeError("ran out of generated batches")
        b, self.next_batch = self.next_batch, self.next_batch + 1
        op = Op("commit", self.batches[b].docs, self._commit(spark, b, f"b{b:04d}", replay=False))
        self.committed.append(b)
        return op

    def layer_paths(self) -> list[str]:
        return [self.batches[b].path for b in sorted(self.committed)[:4]]

    def finish(self, spark) -> None:
        with self.tracer.span("compact") as s:
            compact_runs(spark, self.out_dir)
        self.compact_s = s.seconds
        self.stored_bytes = dir_bytes(os.path.join(self.out_dir, "runs"))[0]

    def check(self, spark) -> Check:
        rows = checks.verdict_rows(committed_results(spark, self.out_dir))
        problems = list(self.problems)
        want = {u for b in self.committed for u in self.batches[b].urls}
        if set(rows["url"]) != want:
            problems.append(
                f"committed urls differ from the batches' new urls "
                f"({len(set(rows['url']) ^ want)} differ)"
            )
        agreement, more = checks.label_agreement(rows, self.labels, captures=None)
        inputs = read_inputs([self.batches[b].path for b in self.committed])
        more += checks.oracle_spot_check(rows, inputs, self.root, self.seed)
        props = verdict_properties(rows, inputs)
        props["input_bytes"] = sum(self.batches[b].bytes for b in self.committed)
        props["stored_bytes_per_input_byte"] = self.stored_bytes / props["input_bytes"]
        props["compact_s"] = self.compact_s
        return Check(agreement, problems + more, props)


WORKLOADS = {w.name: w for w in (FreshMixed, RecrawlDups, IncrementalAppend)}
