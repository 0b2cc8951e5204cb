"""Per-layer metrics of a traced run.

Two views, both from outside the engine:

1. ``profile`` calls each layer's public function on that stage's
   materialized input (persisted first, so a call's time is the layer's
   own work plus a cached read), inside a span and a Spark job group.
2. ``from_event_log`` reads Spark's own job, stage and task metrics per
   job group from the event log written during the traced run.

perfbench/README.md records which end-to-end metric each layer metric
should move, and on which workload.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark import StorageLevel
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.hashing import url_normalize
from gemproc2caom2_spark.functions.langid import langid_expr
from gemproc2caom2_spark.functions.perplexity import perplexity_udf
from gemproc2caom2_spark.functions.scrub import scrub_expr
from gemproc2caom2_spark.operators.dedup import (
    band_keys_expr,
    make_minhash_udf,
    mark_lsh_duplicates,
    mark_semantic_duplicates,
    shingle_hashes_expr,
)
from gemproc2caom2_spark.operators.embed import with_centered_vector, with_text_embedding
from gemproc2caom2_spark.operators.extract import extract_text_udf
from gemproc2caom2_spark.operators.heuristics import DEFAULT_RULES as R
from gemproc2caom2_spark.operators.heuristics import LANGID_CAP, quality_struct
from gemproc2caom2_spark.operators.similarity import np_bucket_udf
from gemproc2caom2_spark.plans.checkpoint import committed_keys, compact_runs, run_incremental
from gemproc2caom2_spark.plans.pipeline import (
    cheap_drop_reason,
    curate,
    unpersist_curate_cache,
)
from jobs import EMB_DIM, SEMANTIC, cached_bytes, dir_bytes, noop


COLLAPSE = "pipeline.collapse"


def _persist(df):
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Profiler:
    """Runs each isolated call in its own job group and span."""

    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer

    def time(self, name: str, fn) -> float:
        group = f"layer.{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        try:
            with self.tracer.span(group) as s:
                fn()
        finally:
            self.spark.sparkContext.setJobGroup("-", "")
        return s.seconds

    def build(self, name: str, make) -> tuple:
        """Build a frame with ``make`` and write it to noop, timed as one
        call; returns (frame, seconds)."""
        out = []

        def call():
            out.append(make())
            noop(out[0])

        seconds = self.time(name, call)
        return out[0], seconds


def profile(spark, wl, tracer) -> tuple[dict[str, float], list]:
    """Isolated public-function calls on ``wl``'s inputs. Returns the
    metrics and the frames it persisted (the caller unpersists them)."""
    p = Profiler(spark, tracer)
    m: dict[str, float] = {}
    paths = wl.layer_paths()
    src = spark.read.parquet(*paths)

    m["sources.scan_s"] = p.time("sources", lambda: noop(src))
    # curate()'s eager persist barrier runs scan..minhash into the cache
    built = []
    m["pipeline.barrier_s"] = p.time("pipeline.barrier", lambda: built.append(curate(src)))
    m["pipeline.barrier_cached_bytes"] = cached_bytes(spark)
    unpersist_curate_cache(built[0])
    # the collapse has no public entry point of its own: curate() with
    # only the collapse stage on, in a job group whose aggregation time
    # from_event_log reads (the collapse is its only aggregate)
    p.time(COLLAPSE, lambda: noop(curate(src, stages=("collapse",), dedup=False)))
    m["pipeline.collapse_rows_in"] = src.count()
    m["pipeline.collapse_rows_out"] = src.select(url_normalize("url")).distinct().count()

    # materialized inputs: latest capture per url, then extracted text
    coll = _persist(
        src.select(url_normalize("url").alias("url"), "warc_ts", "text", "html")
        .groupBy("url")
        .agg(F.max_by(F.struct("text", "html"), "warc_ts").alias("r"))
        .select("url", "r.*")
    )
    extracted = F.coalesce(
        F.col("text"), extract_text_udf(F.when(F.col("text").isNull(), F.col("html")))
    )
    m["extract.s"] = p.time("extract", lambda: noop(coll.select(extracted.alias("t"))))
    m["extract.docs"] = coll.where(F.col("text").isNull()).count()
    texts = _persist(coll.select(F.xxhash64("url").alias("url_hash"), extracted.alias("text")))
    lang = langid_expr(F.substring("text", 1, LANGID_CAP))
    m["langid.s"] = p.time("langid", lambda: noop(texts.select(lang.alias("l"))))
    m["heuristics.s"] = p.time("heuristics", lambda: noop(texts.select(quality_struct("text").alias("q"))))

    reason = cheap_drop_reason(F.col("text"), quality_struct("text"), lang, R)
    surv = _persist(texts.where(reason.isNull()))
    n_texts, n_surv = texts.count(), surv.count()
    m["pipeline.gate_survivor_frac"] = n_surv / max(n_texts, 1)
    m["perplexity.s"] = p.time("perplexity", lambda: noop(surv.select(perplexity_udf("text").alias("p"))))
    m["perplexity.docs"] = n_surv
    m["scrub.s"] = p.time("scrub", lambda: noop(surv.select(scrub_expr("text").alias("s"))))
    m["scrub.docs"] = n_surv

    sig = make_minhash_udf(R.num_minhash_perms, R.shingle_k)(shingle_hashes_expr("text", R.shingle_k))
    m["dedup.minhash_s"] = p.time("dedup.minhash", lambda: noop(surv.select("url_hash", sig.alias("s"))))
    sigs = _persist(surv.select("url_hash", sig.alias("minhash_sig")))
    rpb = R.num_minhash_perms // R.lsh_bands
    # the markers' folds run eagerly (localCheckpoint barriers): build
    # them inside the timed call
    marked, m["dedup.lsh_fold_s"] = p.build(
        "dedup.lsh_fold", lambda: mark_lsh_duplicates(sigs, bands=R.lsh_bands, rows_per_band=rpb)
    )
    m["dedup.lsh_candidate_rows"] = n_surv * R.lsh_bands
    m["dedup.lsh_dup_frac"] = marked.where("is_duplicate").count() / max(n_surv * R.lsh_bands, 1)
    m["dedup.lsh_max_bucket"] = _max_group(
        sigs.select(F.posexplode(band_keys_expr("minhash_sig", R.lsh_bands, rpb))), ["pos", "col"]
    )

    kept = _persist(surv.join(marked.where(~F.col("is_duplicate")).select("url_hash"), "url_hash"))
    emb = with_text_embedding(
        kept.select(F.col("url_hash").alias("vec_id"), "text"), text_col="text", dim=EMB_DIM
    ).select("vec_id", "embedding")
    m["embed.s"] = p.time("embed", lambda: noop(emb))
    embp = _persist(emb)
    embc = _persist(with_centered_vector(embp, dim=EMB_DIM))
    n_emb = embc.count()
    sem, m["semantic.mark_s"] = p.build("semantic", lambda: mark_semantic_duplicates(embc, **SEMANTIC))
    m["semantic.candidates"] = n_emb * SEMANTIC["tables"]
    m["semantic.verified_frac"] = sem.where("is_duplicate").count() / max(n_emb * SEMANTIC["tables"], 1)
    buckets = np_bucket_udf(SEMANTIC["bits"], SEMANTIC["tables"], EMB_DIM)
    m["semantic.max_bucket"] = _max_group(embc.select(F.explode(buckets("cvec")).alias("b")), ["b"])
    return m, [coll, texts, surv, sigs, kept, embp, embc]


def _max_group(df, cols) -> float:
    row = df.groupBy(*cols).count().agg(F.max("count")).first()
    return float(row[0] or 0)


def checkpoint_calls(spark, wl, tracer) -> tuple[dict[str, float], dict[str, str]]:
    """Commit a slice, replay it and compact the two runs, into a scratch
    root: the checkpoint layer's isolated calls. Returns timings and
    {job group: op kind}."""
    p = Profiler(spark, tracer)
    root = os.path.join(wl.work, "layer-ckpt")
    shutil.rmtree(root, ignore_errors=True)
    sl = wl.layer_paths()[:1]

    def commit(run_id):
        return lambda: run_incremental(spark, spark.read.parquet(*sl), root, run_id=run_id)

    m = {"checkpoint.commit_s": p.time("checkpoint.commit", commit("c0"))}
    m["checkpoint.bytes_written"], m["checkpoint.files_written"] = dir_bytes(
        os.path.join(root, "runs", "c0")
    )
    m["checkpoint.ledger_read_s"] = _ledger_read(p, root)
    m["checkpoint.replay_s"] = p.time("checkpoint.replay", commit("replay"))
    m["checkpoint.compact_s"] = p.time("checkpoint.compact", lambda: compact_runs(spark, root))
    in_bytes = sum(dir_bytes(x)[0] if os.path.isdir(x) else os.path.getsize(x) for x in sl)
    m["checkpoint.stored_bytes_per_input_byte"] = dir_bytes(os.path.join(root, "runs"))[0] / in_bytes
    shutil.rmtree(root, ignore_errors=True)
    return m, {"layer.checkpoint.commit": "commit", "layer.checkpoint.replay": "replay"}


def _ledger_read(p: Profiler, root: str) -> float:
    """The resume side of a commit: list the committed runs and read the
    keys ledger the anti-join probes."""
    spark = p.spark
    return p.time(
        "checkpoint.ledger_read",
        lambda: committed_keys(spark, root).select("url_hash").distinct().count(),
    )


def from_event_log(stats, kinds: dict[str, str], op_groups: list[str]) -> dict[str, float]:
    """Spark-physical metrics per traced op (medians over ops) and the
    write-phase split of every checkpoint commit."""
    ops = [stats[g] for g in op_groups if g in stats]
    m = {
        "spark.jobs": _median([g.jobs for g in ops]),
        "spark.shuffle_write_bytes": _median([g.shuffle_write_bytes for g in ops]),
        "spark.spill_bytes": _median([g.spill_bytes for g in ops]),
        "spark.task_skew": _median([g.task_skew for g in ops]),
        "spark.python_bytes_sent": _median([g.python_bytes_sent for g in ops]),
        "sources.bytes_read": float(stats["layer.sources"].input_bytes) if "layer.sources" in stats else 0.0,
        "semantic.max_task_s": stats["layer.semantic"].max_task_s if "layer.semantic" in stats else 0.0,
        # partial plus final aggregation of the recapture collapse
        "pipeline.collapse_s": stats["layer." + COLLAPSE].agg_build_s,
    }
    results, side, audit = [], [], []
    for group, kind in kinds.items():
        if kind != "commit" or group not in stats:
            continue
        w = stats[group].writes
        results.append(sum(s for p, s in w.items() if p.endswith("/results")))
        side.append(sum(s for p, s in w.items() if not p.endswith("/results")))
        audit.append(sum(s for p, s in w.items() if "/audit_" in p))
    m["checkpoint.results_write_s"] = _median(results)
    m["checkpoint.side_write_s"] = _median(side)
    m["audit.s"] = _median(audit)
    return m
