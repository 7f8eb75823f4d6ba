"""Main-content extraction operators: boilerplate strip + layout spans.

The two north-star extraction components applied per turn/document at
scale (BASELINE.json north_star):

- ``strip_boilerplate_column``   HTML -> main text via text-density +
  link-density block classification (core/boilerplate.py).  One narrow
  ``mapInArrow`` stage: the scan is pruned to (ids, html), the streaming
  tokenizer emits flat block arrays per document, classification is
  arithmetic over those arrays — no DOM objects, no per-row Python in
  the plan, no shuffle.
- ``reading_order_spans``        page text tokens (the pdf-cell shape)
  -> ordered text spans with line ids (core/layout.py).  Same
  mapInArrow shape over a JSON token column; a malformed token list
  yields one ``("", 0, 0)`` row.

Each stage is a column declaration plus a row function run by the row
worker (functions/rows.py), which owns the Arrow build, per-row
isolation and GC suspension.

Both compose with the table pipeline: a turn's ``tool`` payload carries
pdf cells for the table matcher, and the same tokens feed the reading-
order spans; an HTML ``text`` payload feeds the boilerplate stripper.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa

from ..core.boilerplate import strip_boilerplate
from ..core.layout import spans
from ..functions.rows import map_rows

_STRIPPED = (
    ("main_text", pa.string(), ""),
    ("n_blocks", pa.int32(), 0),
    ("n_content_blocks", pa.int32(), 0),
    ("main_sha256", pa.string(), None),
    ("parse_error", pa.bool_(), True),
)
STRIP_COLUMNS = (("doc_id", pa.int64(), None), *_STRIPPED)
TURN_STRIP_COLUMNS = (
    ("conv_id", pa.string(), None),
    ("turn_idx", pa.int32(), None),
    *_STRIPPED,
)
SPANS_COLUMNS = (
    ("doc_id", pa.int64(), None),
    ("ordered_text", pa.string(), ""),
    ("n_tokens", pa.int32(), 0),
    ("n_lines", pa.int32(), 0),
)


def _strip_row(html):
    main, n_blocks, n_content, parse_error = strip_boilerplate(html)
    main_sha256 = hashlib.sha256(main.encode("utf-8")).hexdigest()
    return main, n_blocks, n_content, main_sha256, parse_error


def _spans_row(tokens_json):
    # malformed JSON or a malformed token list raises here, and the row
    # worker emits the declared error row ("", 0, 0)
    return spans(json.loads(tokens_json) if tokens_json else [])


def strip_boilerplate_column(df):
    """(doc_id, html) -> (doc_id, main_text, block counts, content hash)."""
    pruned = df.select("doc_id", "html")
    return map_rows(pruned, ("doc_id",), ("html",), STRIP_COLUMNS, _strip_row)


def reading_order_spans(df):
    """(doc_id, tokens_json) -> (doc_id, reading-order text, token/line counts)."""
    pruned = df.select("doc_id", "tokens_json")
    return map_rows(pruned, ("doc_id",), ("tokens_json",), SPANS_COLUMNS, _spans_row)


# ---------------------------------------------------------------------------
# Deterministic synthetic pages (no external data): wrap a document's
# text into a realistic page skeleton with nav/header/footer chrome,
# link farms and a related-links list, so the stripper has real
# boilerplate to remove.  Pure function of (doc_id, text).
# ---------------------------------------------------------------------------

def synthesize_page(doc_id: int, text: str) -> str:
    import html as _html

    from ..core.boilerplate import MIN_GOOD_WORDS

    words = (text or "").split()
    chunks = [words[i : i + 40] for i in range(0, len(words), 40)]
    # merge floor = MIN_GOOD_WORDS so every interior paragraph clears the
    # GOOD-block rule by construction (the strip->reconstruct fixed point
    # must hold for any corpus, not just the current fixture's sizes)
    if len(chunks) > 1 and len(chunks[-1]) < MIN_GOOD_WORDS:
        chunks[-2].extend(chunks.pop())
    # escape so <, >, & in document text survive the synthesize->tokenize
    # round trip (the tokenizer unescapes char refs)
    paras = [_html.escape(" ".join(c)) for c in chunks] or [""]
    nav = "".join(
        f'<li><a href="/s/{doc_id}/{i}">section {i}</a></li>' for i in range(6)
    )
    related = "".join(
        f'<li><a href="/doc/{(doc_id * 7 + i) % 1000}">related item {i} read more</a></li>'
        for i in range(5)
    )
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        f"<html><head><title>doc {doc_id}</title></head><body>"
        f"<header><h1>Site {doc_id % 13}</h1><nav><ul>{nav}</ul></nav></header>"
        f'<div><a href="/subscribe">Subscribe now</a> | <a href="/login">Log in</a></div>'
        f"<article>{body}</article>"
        f"<aside><h3>Related</h3><ul>{related}</ul></aside>"
        f"<footer><p>© {2000 + doc_id % 26} Example Corp. All rights reserved. "
        f'<a href="/tos">Terms</a> <a href="/privacy">Privacy</a></p></footer>'
        f"</body></html>"
    )


def synthesize_pages(docs_df):
    """documents -> (doc_id, html) via a vectorized pandas UDF."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _page(ids, texts):
        import pandas as pd

        return pd.Series(
            [synthesize_page(int(i), t) for i, t in zip(ids, texts)]
        )

    return docs_df.select(
        "doc_id",
        _page(F.col("doc_id"), F.col("text")).alias("html"),
    )


def strip_transcript_turns(df):
    """Transcript-shaped wrapper: per-turn boilerplate strip over
    (conv_id, turn_idx, text-as-HTML) keeping turn lineage — the same
    narrow mapInArrow shape as extract_transcripts, so an HTML-payload
    corpus runs the main-content path with identical partitioning,
    checkpointing and skew behavior."""
    pruned = df.select("conv_id", "turn_idx", "text")
    return map_rows(pruned, ("conv_id", "turn_idx"), ("text",), TURN_STRIP_COLUMNS, _strip_row)
