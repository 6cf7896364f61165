"""Seeded benchmark inputs, built once per key and cached on disk.

Everything here is derived from ``--seed``: the pages are the rows
``datagen.generate_pages_df(seed=...)`` produces (built here from the same
row function, ``datagen.page_rows``, plus the fixture docs, so generation
never runs in the measured JVM; a self-test checks both give the same rows),
the planted curation corpus and the triple-check sample come from
``random.Random(seed)``. The cache key also covers
the sizes, the source of ``nativeextractor_spark/datagen/`` and this file, so
a change to either rebuilds.

Inputs are written with pyarrow from pandas frames sorted by id, so the same
seed gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes for a 4-core box (see README.md for how they were chosen).
KG_PAGES = 10_000        # kg_build input
CURATE_PAGES = 4_000     # curate_dups corpus source: the first pages of the seed
TRIPLE_SAMPLE = 500      # urls scored against the single-process golden
INPUT_FILES = 16         # files per input table: Spark packs them into
                         # about one split per core

EXACT_COPY_SHARE = 0.10  # planted byte-identical copies
WRAP_COPY_SHARE = 0.10   # planted copies re-wrapped to 7-token lines
BOILERPLATE_SHARE = 0.20  # docs that get shared boilerplate lines
BOILERPLATE = (
    "accept all cookies to continue browsing",
    "subscribe to our newsletter for weekly updates",
    "all rights reserved terms of use apply",
    "share this page with your friends now",
)
EXACT_PREFIX = "planted-exact/"
WRAP_PREFIX = "planted-wrap/"

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "nativeextractor_spark")


def tree_hash(path: str) -> str:
    """sha256 over the relative names and bytes of every .py file below
    ``path`` (or of ``path`` itself when it is a file)."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        files = [path]
        base = os.path.dirname(path)
    else:
        base = path
        files = sorted(
            os.path.join(d, f)
            for d, _, names in os.walk(path)
            for f in names
            if f.endswith(".py")
        )
    for f in files:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sizes() -> dict:
    return {
        "kg_pages": KG_PAGES,
        "curate_pages": CURATE_PAGES,
        "triple_sample": TRIPLE_SAMPLE,
    }


def cache_key(seed: int) -> str:
    blob = json.dumps(
        {
            "seed": seed,
            "sizes": sizes(),
            "datagen": tree_hash(os.path.join(PACKAGE, "datagen")),
            "inputs": tree_hash(os.path.abspath(__file__)),
        },
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass(frozen=True)
class Inputs:
    """Paths of one seed's cached inputs."""

    dir: str

    @property
    def kg_pages(self) -> str:
        return os.path.join(self.dir, "kg_pages")

    @property
    def curate(self) -> str:
        return os.path.join(self.dir, "curate")

    @property
    def meta(self) -> str:
        return os.path.join(self.dir, "meta.json")

    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.dir, "_READY"))

    def load_meta(self) -> dict:
        with open(self.meta) as f:
            return json.load(f)


def locate(cache_root: str, seed: int) -> Inputs:
    return Inputs(os.path.join(cache_root, cache_key(seed)))


def write_parquet(pdf, path: str, parts: int = 1) -> None:
    """Deterministic parquet: one file, or a directory of ``parts`` files
    of consecutive rows (so Spark reads it as several input splits).
    Timestamps are stored in microseconds, which is what Spark reads."""
    def write(frame, dest):
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False), dest,
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )

    if parts == 1:
        write(pdf, path)
        return
    os.makedirs(path)
    step = -(-len(pdf) // parts)
    for k in range(parts):
        write(pdf.iloc[k * step : (k + 1) * step], f"{path}/part-{k:05d}.parquet")


def lines_of(text: str, width: int) -> str:
    """Re-wrap a page into ``width``-token lines (pages carry no newlines)."""
    toks = text.split(" ")
    return "\n".join(
        " ".join(toks[i : i + width]) for i in range(0, max(len(toks), 1), width)
    )


def plant_corpus(ids: list[str], texts: list[str], seed: int):
    """Lines-ify pages (5-token lines, as bench.py does) and plant shared
    boilerplate, exact copies and re-wrapped copies at fixed shares.

    Returns (doc_id list, text list, planted exact-copy ids)."""
    rng = random.Random(seed ^ 0x5EED)
    docs = [lines_of(t, 5) for t in texts]
    n = len(docs)
    for i in rng.sample(range(n), int(n * BOILERPLATE_SHARE)):
        docs[i] += "\n" + "\n".join(rng.sample(BOILERPLATE, 2))
    out_ids, out_texts = list(ids), list(docs)
    exact = []
    for k, i in enumerate(sorted(rng.sample(range(n), int(n * EXACT_COPY_SHARE)))):
        exact.append(f"{EXACT_PREFIX}{k:05d}")
        out_ids.append(exact[-1])
        out_texts.append(docs[i])
    for k, i in enumerate(sorted(rng.sample(range(n), int(n * WRAP_COPY_SHARE)))):
        out_ids.append(f"{WRAP_PREFIX}{k:05d}")
        out_texts.append(lines_of(texts[i], 7))
    return out_ids, out_texts, exact


def generate_pages(n_pages: int, seed: int):
    """The rows of ``generate_pages_df(spark, n_pages, seed)`` as a pandas
    frame sorted by url, without Spark."""
    import pandas as pd

    from nativeextractor_spark.datagen import FIXTURE_TEXTS, page_rows
    from nativeextractor_spark.datagen.pages import _BASE_TS

    rows = page_rows(range(n_pages), seed=seed) + [
        (url, _BASE_TS, b"<html><body>" + t.encode("utf-8") + b"</body></html>", t, "en")
        for url, t in FIXTURE_TEXTS.items()
    ]
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
    return pdf.sort_values("url", kind="stable").reset_index(drop=True)


def build_inputs(inp: Inputs, seed: int) -> None:
    """Generate the pages and build the planted curation corpus.
    Idempotent per key."""
    import pandas as pd

    if inp.ready():
        return
    tmp = inp.dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = generate_pages(KG_PAGES, seed)
    paths = Inputs(tmp)
    write_parquet(base, paths.kg_pages, INPUT_FILES)

    src = generate_pages(CURATE_PAGES, seed)
    src = src[src["text"].str.len() > 0]
    ids, texts, exact = plant_corpus(list(src["url"]), list(src["text"]), seed)
    corpus = pd.DataFrame({"doc_id": ids, "text": texts}).sort_values(
        "doc_id", kind="stable"
    )
    write_parquet(corpus, paths.curate, INPUT_FILES)

    rng = random.Random(seed)
    urls = sorted(base["url"])
    sample = sorted(rng.sample(urls, min(TRIPLE_SAMPLE, len(urls))))
    meta = {
        "seed": seed,
        "sizes": sizes(),
        "kg_docs": len(base),
        "curate_docs": len(corpus),
        "planted_exact": exact,
        "triple_sample": sample,
    }
    with open(paths.meta, "w") as f:
        json.dump(meta, f, sort_keys=True)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(inp.dir, ignore_errors=True)
    os.rename(tmp, inp.dir)

