"""Seeded inputs for the benchmark workloads and their expected outputs.

Every generator takes the seed and returns pyarrow tables; the program
under test only ever sees the parquet files written from them.  The
expected per-payload results come from the embedded fixture pool
(``data/fixture_pool.json`` through ``sources.fixtures.payload_pool``),
never from a run of the engine under test.
"""

from __future__ import annotations

import hashlib
import json
import random
from functools import lru_cache
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("payload_id", pa.int32()),
    ]
)
DOCUMENT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
ROLES = ("user", "assistant", "tool")
TURNS_PER_CONV = 16
NO_PDF_TEXT_KINDS = ("prediction", "table")

# the sf0.1 documents corpus's statistics: a 30-word vocabulary drawn
# uniformly, 10-100 words per document, 20 round-robin sources, the
# same language mix, and ~5% near-duplicate copies of earlier documents
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05


@lru_cache(maxsize=1)
def pool():
    """The embedded payload pool (list of entries with payload_id, kind,
    text, tool, expected_html_json, expected_tf_json)."""
    from ds4sd_docling_tableformer_onnx_spark.sources.fixtures import payload_pool

    return tuple(payload_pool())


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@lru_cache(maxsize=1)
def expected_by_payload() -> dict:
    """payload_id -> the output every turn carrying that payload must have.

    ``num_rows``/``num_cols`` come straight from the fixture file
    (``expected`` of predictions and matched entries, ``rows``/``cols``
    of ground-truth tables).  The HTML digest is the SHA-256 of the
    expected HTML token list's JSON.  ``n_cells`` is the number of cells
    in the expected response and ``n_matches`` the number of PDF text
    cells the expected response places in them.
    """
    from importlib.resources import files

    raw = json.loads(
        files("ds4sd_docling_tableformer_onnx_spark")
        .joinpath("data/fixture_pool.json")
        .read_text()
    )
    shapes = [
        (item["expected"]["num_rows"], item["expected"]["num_cols"])
        for item in raw["predictions"] + raw["matched"]
    ]
    for table in raw["tables"]:
        shapes += [(table["rows"], table["cols"])] * 2  # table, table_matched
    out = {}
    for entry, (num_rows, num_cols) in zip(pool(), shapes, strict=True):
        tf = json.loads(entry["expected_tf_json"])
        out[entry["payload_id"]] = {
            "kind": entry["kind"],
            "html_sha256": _sha(entry["expected_html_json"]),
            "tf_sha256": _sha(entry["expected_tf_json"]),
            "num_rows": num_rows,
            "num_cols": num_cols,
            "n_cells": len(tf),
            "n_matches": sum(len(c.get("text_cell_bboxes") or []) for c in tf),
        }
    return out


def kind_of(payload_id: int) -> str:
    return expected_by_payload()[payload_id]["kind"]


def with_nonce(tool: str, nonce: str) -> str:
    """Prefix a unique key to the tool JSON: the turn's payload bytes and
    payload key change, its extraction output does not."""
    return '{"nonce": "%s", %s' % (nonce, tool[1:])


def transcripts(
    seed: int,
    n_turns: int,
    kinds: tuple | None = None,
    nonce_tag: str | None = None,
) -> pa.Table:
    """``n_turns`` transcript rows drawing payloads uniformly from the
    pool entries of ``kinds`` (all kinds: the pool's natural mix).  With
    ``nonce_tag`` every turn's tool JSON carries a unique nonce, so no two
    turns share a payload."""
    rng = random.Random(f"transcripts:{seed}:{nonce_tag}")
    entries = [e for e in pool() if kinds is None or e["kind"] in kinds]
    conv_prefix = f"s{seed}-{nonce_tag or 'p'}"
    cols = {name: [] for name in TRANSCRIPT_SCHEMA.names}
    for row in range(n_turns):
        entry = entries[rng.randrange(len(entries))]
        turn_idx = row % TURNS_PER_CONV
        cols["conv_id"].append(f"{conv_prefix}-c{row // TURNS_PER_CONV:06d}")
        cols["turn_idx"].append(turn_idx)
        cols["role"].append(ROLES[turn_idx % 3])
        cols["text"].append(entry["text"])
        tool = entry["tool"]
        if nonce_tag is not None:
            tool = with_nonce(tool, f"{conv_prefix}-{row}")
        cols["tool"].append(tool)
        cols["ts"].append(1_767_225_600_000_000 + row * 60_000_000)
        cols["payload_id"].append(entry["payload_id"])
    return pa.table(cols, schema=TRANSCRIPT_SCHEMA)


def resume_inputs(
    seed: int,
    n_turns: int,
    done_share: float,
    changed_share: float,
    nonce_tag: str | None = None,
):
    """Inputs of a resumed extraction: ``(input_table, checkpointed)``.

    ``checkpointed`` holds (conv_id, turn_idx, payload_id) of the turns a
    previous run extracted: ``done_share`` of the input turns, of which
    ``changed_share`` (of all turns) carried an older payload, so they
    must re-run.  With ``nonce_tag`` every turn that must run carries a
    unique payload (see ``transcripts``); the checkpointed turns do not
    depend on it."""
    table = transcripts(seed, n_turns)
    rng = random.Random(f"resume:{seed}")
    order = list(range(n_turns))
    rng.shuffle(order)
    done = sorted(order[: int(n_turns * done_share)])
    changed = set(order[: int(n_turns * changed_share)])
    ids = table.column("payload_id").to_pylist()
    n_pool = len(pool())
    ckpt_ids = [
        (ids[i] + 1 + rng.randrange(n_pool - 1)) % n_pool if i in changed else ids[i]
        for i in done
    ]
    checkpointed = pa.table(
        {
            "conv_id": table.column("conv_id").take(done),
            "turn_idx": table.column("turn_idx").take(done),
            "payload_id": pa.array(ckpt_ids, pa.int32()),
        }
    )
    if nonce_tag is not None:
        skipped = set(done) - changed
        tools = [
            tool if i in skipped else with_nonce(tool, f"s{seed}-{nonce_tag}-{i}")
            for i, tool in enumerate(table.column("tool").to_pylist())
        ]
        table = table.set_column(
            TRANSCRIPT_SCHEMA.get_field_index("tool"), "tool", pa.array(tools, pa.string())
        )
    return table, checkpointed


def documents(seed: int, n_docs: int) -> pa.Table:
    """A documents corpus with the statistics of the repo's sf0.1
    ``documents`` table, remixed by the seed.  Lengths, languages and the
    near-duplicate positions are stratified (a seeded shuffle of exact
    shares), so corpora of different seeds differ in content, not in
    shape."""
    rng = random.Random(f"documents:{seed}")
    lengths = [10 + i * 91 // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    langs = [lang for lang, share in LANGS for _ in range(round(share * n_docs))]
    langs = (langs + [LANGS[0][0]] * n_docs)[:n_docs]
    rng.shuffle(langs)
    dup_every = round(1 / NEAR_DUP_SHARE)
    texts = []
    for doc_id in range(n_docs):
        if doc_id % dup_every == dup_every - 1:
            base = texts[rng.randrange(len(texts))]
            texts.append(base + " dup" if doc_id % (2 * dup_every) < dup_every else base)
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(lengths[doc_id])))
    return pa.table(
        {
            "doc_id": list(range(n_docs)),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        schema=DOCUMENT_SCHEMA,
    )


def write_files(table: pa.Table, directory: Path, n_files: int) -> Path:
    """Write ``table`` as ``n_files`` parquet files of near-equal row
    counts (one file becomes one scan task)."""
    directory.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), directory / f"part-{i:05d}.parquet")
    return directory
