"""Seeded workload inputs and the verdicts their labels imply.

Every workload is built from ``sources.datagen.generate_pandas`` (the
engine's public corpus generator) and written as parquet files with the
engine's input schema. The generator's ``category`` label never reaches
the engine; it is kept beside the files, with the planted duplicate
groups and recapture counts, so the output check can derive each doc's
expected verdict.

Chunks are generated with offsets that are multiples of the category
cycle (15), so a ``near_dup_b`` row always follows its ``near_dup_a``
partner in the same chunk.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import timedelta

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gemproc2caom2_spark.sources.datagen import CATEGORIES, generate_pandas

CHUNK = 150  # docs per generate_pandas call; a multiple of len(CATEGORIES)

# recrawl_dups: files, template farms and recaptures
RECRAWL_FILES = 16
TEMPLATES = 1  # clean docs each copied into an LSH and a semantic farm
EDIT_FRAC = 0.6  # edit copies (LSH near-dups), as a share of base urls
REORDER_FRAC = 0.6  # word-shuffled copies (semantic near-dups only)
RECAPTURE_FRAC = 0.3  # base urls captured 2-3 times

# incremental_append: rows per batch, and old docs in every batch after
# the first
BATCH_DOCS = 150
RECRAWLS = 10  # recaptures of committed urls
COPIES = 5  # near-copies of committed clean docs

# verdict each generator category documents (datagen.CATEGORIES comments);
# None = keep. near_dup_* and invalid_utf8 are keeps that become
# 'duplicate' for all but one member of their duplicate group.
EXPECTED_REASON = {
    "clean_en": None,
    "clean_en_pii": None,
    "non_english": "langid",
    "cjk": "langid",
    "gibberish": "perplexity",
    "too_short": "min_length",
    "too_long": "max_length",
    "symbol_heavy": "symbol_ratio",
    "repeated_lines": "repeated_lines",
    "placeholder": "placeholder",
    "near_dup_a": None,
    "near_dup_b": None,
    "null_text_html": None,
    "empty_html": "empty",
    "invalid_utf8": None,
}
assert set(EXPECTED_REASON) == set(CATEGORIES)

# categories that pass the cheap gates (recrawl_dups draws only these)
PASSING = ("clean_en", "clean_en_pii", "null_text_html", "near_dup_a", "near_dup_b")

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
INPUT_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@dataclass
class Labels:
    """Generator labels per url: category, duplicate group, captures.

    ``group`` maps a url to the id of its planted duplicate group: of a
    group's members that the category verdict keeps, exactly one stays
    kept and the rest are 'duplicate'. ``sem_group`` is the same for
    the semantic (embedding) marker over kept docs."""

    category: dict[str, str] = field(default_factory=dict)
    group: dict[str, str] = field(default_factory=dict)
    sem_group: dict[str, str] = field(default_factory=dict)
    captures: dict[str, int] = field(default_factory=dict)

    def add(self, pdf: pd.DataFrame) -> None:
        for url, cat in zip(pdf["url"], pdf["category"]):
            self.captures[url] = self.captures.get(url, 0) + 1
            if url in self.category:
                continue
            self.category[url] = cat
            if cat == "invalid_utf8":  # every such page is byte-identical
                self.group[url] = "invalid_utf8"

    def expected_reason(self, url: str) -> str | None:
        return EXPECTED_REASON[self.category[url]]


def chunks(seed: int, n_docs: int, offset: int = 0) -> list[pd.DataFrame]:
    """``n_docs`` rounded up to whole chunks of the default category mix,
    numbered from ``offset`` (urls are unique per offset)."""
    out = []
    for start in range(offset, offset + n_docs, CHUNK):
        pdf = generate_pandas(CHUNK, seed=seed, offset=start)
        pairs = pdf["category"].isin(("near_dup_a", "near_dup_b"))
        # a and b sit in the same 15-row category cycle: the cycle index
        # is the pair id
        pdf["_pair"] = None
        pdf.loc[pairs, "_pair"] = [
            f"pair-{seed}-{(start + i) // len(CATEGORIES)}"
            for i in pdf.index[pairs]
        ]
        out.append(pdf)
    return out


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    """Write the input-schema columns of ``pdf``; returns bytes on disk."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.Table.from_pandas(pdf[INPUT_COLUMNS], preserve_index=False).cast(
        _ARROW_SCHEMA
    )
    pq.write_table(tbl, path)
    return os.path.getsize(path)


def _register(labels: Labels, pdf: pd.DataFrame) -> None:
    labels.add(pdf)
    for url, pair in zip(pdf["url"], pdf["_pair"]):
        if pair is not None:
            labels.group[url] = pair


def _edit(rng: random.Random, text: str, frac: float) -> str:
    """Near-copy: replace ``frac`` of the words with other words of the
    same text (so every gate still passes), keeping line structure."""
    lines = text.split("\n")
    vocab = text.split()
    out = []
    for line in lines:
        words = line.split(" ")
        for j in range(len(words)):
            if rng.random() < frac:
                words[j] = rng.choice(vocab)
        out.append(" ".join(words))
    return "\n".join(out)


def _reorder(rng: random.Random, text: str) -> str:
    """Same words, shuffled within each line: the hashed-TF vector is
    identical (cosine 1.0) while word 3-shingles barely overlap, so the
    MinHash-LSH marker misses it and the semantic marker catches it."""
    out = []
    for line in text.split("\n"):
        words = line.split(" ")
        rng.shuffle(words)
        out.append(" ".join(words))
    return "\n".join(out)


def _copy_row(row: pd.Series, url: str, text: str, category: str) -> dict:
    return {
        "url": url,
        "warc_ts": row["warc_ts"],
        "html": None,
        "text": text,
        "lang": "en",
        "category": category,
        "_pair": None,
    }


# ---------------------------------------------------------------------------
# fresh_mixed: the default mix, as many parquet files
# ---------------------------------------------------------------------------


def fresh_mixed(seed: int, n_docs: int, in_dir: str) -> tuple[Labels, int]:
    labels = Labels()
    total = 0
    for i, pdf in enumerate(chunks(seed, n_docs)):
        _register(labels, pdf)
        total += write_parquet(pdf, os.path.join(in_dir, f"part-{i:05d}.parquet"))
    return labels, total


# ---------------------------------------------------------------------------
# recrawl_dups: gate-passing docs, recaptured urls, template farms
# ---------------------------------------------------------------------------


def recrawl_dups(seed: int, n_urls: int, in_dir: str) -> tuple[Labels, int]:
    """``n_urls`` gate-passing base docs plus, for each of ``TEMPLATES``
    clean docs, edit copies (MinHash-LSH near-dups: one LSH bucket per
    band) and reordered copies (semantic near-dups of the kept member:
    one hyperplane bucket per table); ``EDIT_FRAC`` and ``REORDER_FRAC``
    of ``n_urls`` in all. ``RECAPTURE_FRAC`` of the base urls are
    captured 2-3 times with later ``warc_ts`` and a one-word change; the
    latest capture must win."""
    rng = random.Random(seed * 7919 + 1)
    base = pd.concat(
        [c[c["category"].isin(PASSING)] for c in chunks(seed, n_urls * 3)],
        ignore_index=True,
    ).head(n_urls)
    labels = Labels()
    _register(labels, base)
    extra: list[dict] = []
    clean = base[base["category"] == "clean_en"]
    n_edit = int(n_urls * EDIT_FRAC) // TEMPLATES
    n_reorder = int(n_urls * REORDER_FRAC) // TEMPLATES
    for t in range(TEMPLATES):
        row = clean.iloc[t]
        lsh_group, sem_group = f"tmpl-{seed}-{t}", f"sem-{seed}-{t}"
        labels.group[row["url"]] = lsh_group
        labels.sem_group[row["url"]] = sem_group
        for j in range(n_edit):
            url = f"https://farm-{t}.example/copy/{j:05d}"
            extra.append(_copy_row(row, url, _edit(rng, row["text"], 0.02), "clean_en"))
            labels.group[url] = lsh_group
            labels.sem_group[url] = sem_group
        for j in range(n_reorder):
            url = f"https://mirror-{t}.example/shuffled/{j:05d}"
            extra.append(_copy_row(row, url, _reorder(rng, row["text"]), "clean_en"))
            labels.sem_group[url] = sem_group
    recaps: list[dict] = []
    for _, row in base.iterrows():
        if row["text"] is None or rng.random() >= RECAPTURE_FRAC:
            continue
        for k in range(1, rng.randrange(2, 4)):
            r = row.to_dict()
            r["warc_ts"] = row["warc_ts"] + timedelta(days=k)
            words = row["text"].split(" ")
            words[k % len(words)] = "recrawled"
            r["text"] = " ".join(words)
            r["html"] = None
            recaps.append(r)
    pdf = pd.concat([base, pd.DataFrame(extra), pd.DataFrame(recaps)], ignore_index=True)
    for r in extra + recaps:
        labels.captures[r["url"]] = labels.captures.get(r["url"], 0) + 1
        labels.category.setdefault(r["url"], r["category"])
    pdf = pdf.sample(frac=1.0, random_state=seed % (2**32)).reset_index(drop=True)
    total = 0
    per = -(-len(pdf) // RECRAWL_FILES)
    for i in range(RECRAWL_FILES):
        part = pdf.iloc[i * per:(i + 1) * per]
        if len(part):
            total += write_parquet(part, os.path.join(in_dir, f"part-{i:05d}.parquet"))
    return labels, total


# ---------------------------------------------------------------------------
# incremental_append: small batches with recrawls and cross-run near-copies
# ---------------------------------------------------------------------------


@dataclass
class Batch:
    path: str
    docs: int
    bytes: int
    urls: list[str]  # urls this batch adds to the committed results


def incremental_append(seed: int, n_batches: int, in_dir: str) -> tuple[Labels, list[Batch]]:
    """``n_batches`` batch directories of ``BATCH_DOCS`` rows each. Batch
    0 is all new docs; every later batch replaces ``RECRAWLS`` new docs
    with recaptures of urls committed earlier (skipped by the resume
    anti-join: no output row) and ``COPIES`` with near-copies of
    committed clean docs (cross-run 'duplicate')."""
    rng = random.Random(seed * 104729 + 3)
    labels = Labels()
    batches: list[Batch] = []
    committed: list[pd.DataFrame] = []
    span = -(-BATCH_DOCS // CHUNK) * CHUNK  # url offsets per batch
    for b in range(n_batches):
        n_old = 0 if b == 0 else RECRAWLS + COPIES
        fresh = pd.concat(chunks(seed, BATCH_DOCS, offset=b * span))
        fresh = fresh.head(BATCH_DOCS - n_old)
        _register(labels, fresh)
        parts = [fresh]
        new_urls = list(fresh["url"])
        if n_old:
            prev = pd.concat(committed, ignore_index=True)
            rec = prev[prev["text"].notna()].sample(RECRAWLS, random_state=rng.randrange(2**31))
            rec = rec.assign(warc_ts=rec["warc_ts"] + timedelta(days=b))
            src = prev[prev["category"] == "clean_en"].sample(
                COPIES, random_state=rng.randrange(2**31)
            )
            cps = []
            for j, (_, row) in enumerate(src.iterrows()):
                url = f"https://copy-{b}.example/near/{j:05d}"
                cps.append(_copy_row(row, url, _edit(rng, row["text"], 0.02), "clean_en"))
                group = labels.group.setdefault(row["url"], f"xrun-{row['url']}")
                labels.group[url] = group
                labels.category[url] = "clean_en"
                new_urls.append(url)
            parts += [rec, pd.DataFrame(cps)]
        pdf = pd.concat(parts, ignore_index=True)
        path = os.path.join(in_dir, f"batch-{b:04d}")
        nbytes = write_parquet(pdf, os.path.join(path, "part-00000.parquet"))
        batches.append(Batch(path, len(pdf), nbytes, new_urls))
        committed.append(fresh)
    return labels, batches
