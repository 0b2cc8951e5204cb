"""Output checks: run digest, label agreement and an oracle spot-check.

- ``digest_columns`` is attached to every timed job through
  ``DataFrame.observe``: an order-free digest (bit-xor of per-row
  hashes, with a row count) over url_hash, keep, drop_reason and the
  canonical url of a duplicate. Two reps of one workload must agree.
  ``collect_columns`` rides along and collects the rows the other
  checks read, so they need no job of their own.
- ``label_agreement`` compares each output row's verdict with the one
  the generator labels imply (workloads.Labels).
- ``semantic_agreement`` does the same for the semantic marker's flags.
- ``oracle_spot_check`` re-derives a seeded sample of verdicts with the
  pure-Python mirror in ``tests/oracle.py``, imported read-only.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
from collections import defaultdict

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from workloads import Labels


def canonical_url() -> Column:
    """The url a dropped duplicate points at (lineage rel='duplicate_of')."""
    dup = F.filter("lineage", lambda x: x["rel"] == "duplicate_of")
    return F.when(F.size(dup) > 0, dup[0]["url"])


def digest_columns() -> list[Column]:
    row = F.xxhash64(
        "url_hash",
        "keep",
        F.coalesce("drop_reason", F.lit("")),
        F.coalesce(canonical_url(), F.lit("")),
    )
    return [F.bit_xor(row).alias("digest"), F.count(F.lit(1)).alias("rows")]


def semantic_digest_columns(key: str, canon: str) -> list[Column]:
    row = F.xxhash64(key, "is_duplicate", F.coalesce(canon, F.lit(-1)))
    return [F.bit_xor(row).alias("digest"), F.count(F.lit(1)).alias("rows")]


def verdict_columns() -> list[Column]:
    """The columns the checks read from a curate() output."""
    return [
        F.col("url"),
        F.col("url_hash"),
        F.col("keep"),
        F.col("drop_reason"),
        F.size(F.filter("lineage", lambda x: x["rel"] == "prior_capture")).alias("priors"),
        F.col("lang_pred"),
        F.col("perplexity"),
        F.col("scrubbed_text"),
    ]


def verdict_rows(df) -> pd.DataFrame:
    return df.select(*verdict_columns()).toPandas()


def collect_columns(cols: list[Column]) -> list[Column]:
    """Observation that collects ``cols`` of every row (see collected)."""
    return [F.collect_list(F.struct(*cols)).alias("collected")]


def collected(observed: dict) -> pd.DataFrame:
    return pd.DataFrame([r.asDict() for r in observed["collected"]])


def digest_of(observed: dict) -> tuple:
    return observed["digest"], observed["rows"]


def label_agreement(
    rows: pd.DataFrame, labels: Labels, captures: dict[str, int] | None
) -> tuple[float, list[str]]:
    """Share of output rows whose keep/drop_reason matches the labels,
    plus a list of structural violations (each fails the run).

    A planted duplicate group agrees when exactly one of its members the
    category verdict keeps is kept and the others are 'duplicate'; extra
    keeps and non-'duplicate' drops are the disagreeing members.
    ``captures`` (url -> captures in the input) checks that every
    discarded capture is listed as a prior capture."""
    problems = []
    if rows["url"].duplicated().any():
        problems.append("output has more than one row per url")
    unknown = set(rows["url"]) - set(labels.category)
    if unknown:
        problems.append(f"{len(unknown)} output urls were never generated")
    agree = 0
    groups: dict[str, list] = defaultdict(list)
    for r in rows.itertuples(index=False):
        if r.url in unknown:
            continue
        if captures is not None and r.priors != captures[r.url] - 1:
            problems.append(f"{r.url}: {r.priors} prior captures, expected {captures[r.url] - 1}")
        want = labels.expected_reason(r.url)
        group = labels.group.get(r.url)
        if group is not None and want is None:
            groups[group].append(r)
        elif r.drop_reason == want or (pd.isna(r.drop_reason) and want is None):
            agree += 1
    for members in groups.values():
        kept = sum(bool(m.keep) for m in members)
        dups = sum(m.drop_reason == "duplicate" for m in members)
        agree += min(kept, 1) + min(dups, len(members) - 1)
    return agree / max(len(rows), 1), problems


def semantic_agreement(flags: pd.DataFrame, urls: dict[int, str], labels: Labels) -> float:
    """Share of kept docs whose semantic-duplicate flag matches the
    labels: one unflagged member per planted semantic group, every other
    member flagged, and no doc outside a group flagged."""
    agree = 0
    groups: dict[str, list[bool]] = defaultdict(list)
    for key, dup in zip(flags["vec_id"], flags["is_duplicate"]):
        url = urls[key]
        group = labels.sem_group.get(url) or labels.group.get(url)
        if group is None:
            agree += not dup
        else:
            groups[group].append(bool(dup))
    for members in groups.values():
        agree += min(members.count(False), 1) + min(members.count(True), len(members) - 1)
    return agree / max(len(flags), 1)


def _load_oracle(root: str):
    spec = importlib.util.spec_from_file_location(
        "_bench_oracle", os.path.join(root, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_spot_check(
    rows: pd.DataFrame, inputs: pd.DataFrame, root: str, seed: int, n: int = 24
) -> list[str]:
    """Compare a seeded sample of output ``rows`` with tests/oracle.py's
    ``process_document`` on the capture that should win the recapture
    collapse (latest warc_ts). Returns the mismatches."""
    oracle = _load_oracle(root)
    latest = inputs.sort_values("warc_ts").groupby("url").tail(1).set_index("url")
    got = rows.set_index("url")
    urls = sorted(set(got.index) & set(latest.index))
    problems = []
    for url in random.Random(seed).sample(urls, min(n, len(urls))):
        src, row = latest.loc[url], got.loc[url]
        text = src["text"] if isinstance(src["text"], str) else None
        html = src["html"] if isinstance(src["html"], bytes) else None
        want = oracle.process_document(html, text)
        pre = want["drop_reason_pre_dedup"]
        reason = row["drop_reason"] if isinstance(row["drop_reason"], str) else None
        if reason != pre and not (reason == "duplicate" and pre is None):
            problems.append(f"{url}: drop_reason {reason!r}, oracle {pre!r}")
        if row["lang_pred"] != want["lang_pred"]:
            problems.append(f"{url}: lang_pred {row['lang_pred']!r}, oracle {want['lang_pred']!r}")
        ppl, want_ppl = row["perplexity"], want["perplexity"]
        if (want_ppl is None) != pd.isna(ppl) or (
            want_ppl is not None and not math.isclose(ppl, want_ppl, abs_tol=1e-6)
        ):
            problems.append(f"{url}: perplexity {ppl!r}, oracle {want_ppl!r}")
        scrubbed = row["scrubbed_text"] if isinstance(row["scrubbed_text"], str) else None
        if scrubbed != want["scrubbed_text"]:
            problems.append(f"{url}: scrubbed_text differs from the oracle")
    return problems
