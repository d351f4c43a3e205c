"""Seeded benchmark inputs. Pure Python + pyarrow: no Spark.

- ``batch_corpus(seed)``: pages from ``fixtures/gen.py:gen_corpus`` plus
  chains of successive one-edit copies, with planted pair labels.
- ``write_pages(pages, path)``: the pages as parquet, the layout
  ``fixtures.gen.write_fixtures`` uses.
- ``write_search_copy(seed, out_dir)``: the checked-in search corpus
  with its rows permuted by the seed, same schema and row-group layout.

The same seed gives byte-identical outputs.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from fixtures.gen import gen_corpus, make_doc, mutate
from ufuzzy_spark.config import PipelineConfig
from ufuzzy_spark.pairdup import PairVerifier, normalize_text

SEARCH_SOURCE = Path(__file__).resolve().parent / "data" / "documents.parquet"

# batch corpus shape: gen_corpus pages + CHAIN_DOCS docs in chains
GEN_DOCS = 1600
CHAIN_DOCS = 640
CHAIN_LEN = 16
CHAIN_CLASSES = ("ins1", "sub1", "del1", "trn1")

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _page(url: str, ts: dt.datetime, text: str) -> dict:
    return {
        "url": url,
        "warc_ts": ts,
        "html": b"<html><body>" + text.encode("utf-8") + b"</body></html>",
        "text": text,
        "lang": "en",
    }


def chain_pages(seed: int, n_docs: int = CHAIN_DOCS, chain_len: int = CHAIN_LEN):
    """(pages, links): ``n_docs // chain_len`` chains; each doc is one
    mutation (``CHAIN_CLASSES``) of the previous one. Every link is
    labelled by the verifier the pipeline uses."""
    rng = random.Random(f"chains-{seed}")
    verifier = PairVerifier(PipelineConfig())
    t0 = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)
    pages, links = [], []
    for c in range(n_docs // chain_len):
        text = make_doc(rng, min_words=60, max_words=120)
        prev = None
        for k in range(chain_len):
            if k:
                text = mutate(rng, text, rng.choice(CHAIN_CLASSES))
            url = f"https://chains.example.net/en/c{c:04d}-{k:02d}"
            pages.append(_page(url, t0 + dt.timedelta(seconds=len(pages)), text))
            if prev is not None:
                a, b = prev
                links.append(
                    {
                        "url_a": a,
                        "url_b": url,
                        "is_dup": verifier.verify(
                            normalize_text(b), normalize_text(text)
                        ).is_dup,
                        "mutation": "chain",
                    }
                )
            prev = (url, text)
    return pages, links


def batch_corpus(seed: int, gen_docs: int = GEN_DOCS, chain_docs: int = CHAIN_DOCS):
    """(pages, pairs): generator pages + chain pages; ``pairs`` holds
    every planted pair as (url_a, url_b, is_dup, mutation)."""
    pages, gen_pairs = gen_corpus(gen_docs, seed)
    pairs = [
        {k: p[k] for k in ("url_a", "url_b", "is_dup", "mutation")}
        for p in gen_pairs
    ]
    c_pages, links = chain_pages(seed, chain_docs)
    return pages + c_pages, pairs + links


def write_pages(pages: list[dict], path: Path) -> Path:
    path.parent.mkdir(parents=True, exist_ok=True)
    tbl = pa.Table.from_pylist(pages, schema=PAGES_SCHEMA)
    pq.write_table(tbl, path, row_group_size=4096)
    return path


def write_search_copy(seed: int, out_dir: Path) -> Path:
    """``documents.parquet`` in ``out_dir``: the source rows in a
    seeded order. Row-group size follows the source file."""
    src = pq.ParquetFile(SEARCH_SOURCE)
    tbl = src.read()
    order = list(range(tbl.num_rows))
    random.Random(f"search-{seed}").shuffle(order)
    out_dir.mkdir(parents=True, exist_ok=True)
    out = out_dir / "documents.parquet"
    pq.write_table(
        tbl.take(order), out, row_group_size=src.metadata.row_group(0).num_rows
    )
    return out
