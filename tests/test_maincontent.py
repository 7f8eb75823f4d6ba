"""Main-content extraction: boilerplate strip + reading-order spans."""

import json
import random

import pytest

from ds4sd_docling_tableformer_onnx_spark.core.boilerplate import (
    classify_blocks,
    strip_boilerplate,
    tokenize_blocks,
)
from ds4sd_docling_tableformer_onnx_spark.core.layout import (
    reading_order,
    spans,
)
from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import (
    reading_order_spans,
    strip_boilerplate_column,
    synthesize_page,
    synthesize_pages,
)


def _words(n, seed=1):
    rng = random.Random(seed)
    return " ".join(
        rng.choice(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
                    "golf", "hotel", "india", "juliet"]) for _ in range(n)
    )


def test_strip_recovers_article_and_drops_chrome():
    """Recovery invariant: strip(synthesize(text)) == the article text
    (modulo paragraph wrapping); every chrome element is gone."""
    text = _words(100)
    main, n_blocks, n_content, perr = strip_boilerplate(synthesize_page(7, text))
    assert perr is False
    assert " ".join(main.split()) == text
    for chrome in ("Subscribe", "related item", "All rights reserved",
                   "section 0", "Terms", "Site "):
        assert chrome not in main
    assert 0 < n_content < n_blocks


def test_link_density_kills_link_farms():
    html = (
        "<body><p>" + _words(30) + "</p>"
        '<p><a href="/a">one link</a> <a href="/b">two link</a> '
        '<a href="/c">three link</a> and</p></body>'
    )
    blocks = tokenize_blocks(html)
    keep = classify_blocks(blocks)
    assert keep == [True, False]


def test_short_and_container_blocks_are_boilerplate():
    html = (
        "<body><nav><p>" + _words(50) + "</p></nav>"
        "<p>tiny</p><p>" + _words(20) + "</p></body>"
    )
    blocks = tokenize_blocks(html)
    keep = classify_blocks(blocks)
    assert keep == [False, False, True]


def test_malformed_html_degrades_gracefully():
    main, nb, nc, _perr = strip_boilerplate("<p>" + _words(30) + "<div <<< &#bad;")
    assert nb >= 1 and nc >= 1
    assert "alpha" in main or "bravo" in main
    assert strip_boilerplate("")[1:] == (0, 0, False)
    assert strip_boilerplate(None)[1:] == (0, 0, False)


def _token(i, text, x, y, w=10.0, h=8.0):
    return {"id": i, "text": text, "bbox": [x, y, x + w, y + h]}


def test_reading_order_lines_and_jumble_invariance():
    """Three lines (page y-up: higher y = earlier), tokens jittered
    vertically within each line; input order must not matter."""
    toks = [
        _token(0, "first", 0, 100), _token(1, "line", 15, 101.5),
        _token(2, "second", 0, 80), _token(3, "line2", 15, 79),
        _token(4, "third", 0, 60),
    ]
    expected = "first line\nsecond line2\nthird"
    assert spans(list(toks))[0] == expected
    rng = random.Random(9)
    for _ in range(10):
        rng.shuffle(toks)
        assert spans(list(toks))[0] == expected
    ordered, line_ids = reading_order(toks)
    assert line_ids == [0, 0, 1, 1, 2]


def test_reading_order_spark_operator(spark):
    rows = []
    for d in range(20):
        toks = [
            _token(i, f"w{d}_{i}", (i % 4) * 20.0, 100.0 - (i // 4) * 15.0)
            for i in range(12)
        ]
        rows.append((d, json.dumps(toks)))
    df = spark.createDataFrame(rows, "doc_id long, tokens_json string")
    out = {r["doc_id"]: r for r in reading_order_spans(df).collect()}
    assert len(out) == 20
    for d in range(20):
        assert out[d]["n_tokens"] == 12 and out[d]["n_lines"] == 3
        assert out[d]["ordered_text"].splitlines()[0] == f"w{d}_0 w{d}_1 w{d}_2 w{d}_3"


def test_reading_order_spans_isolates_malformed_token_lists(spark):
    """A malformed token list is one ("", 0, 0) row — the row malformed
    JSON gets — and never fails the task or disturbs the good rows."""
    good = {
        d: json.dumps([_token(i, f"g{d}_{i}", i * 20.0, 50.0 - d) for i in range(3)])
        for d in range(3)
    }
    malformed = {
        10: json.dumps([{"id": 0, "text": "no bbox"}]),
        11: json.dumps({"id": 0, "text": "object", "bbox": [0, 0, 1, 1]}),
        12: json.dumps([1, 2]),
        13: json.dumps([{"id": 0, "text": "short bbox", "bbox": [0, 0, 1]}]),
    }
    df = spark.createDataFrame(
        sorted({**good, **malformed}.items()), "doc_id long, tokens_json string"
    )
    rows = reading_order_spans(df).collect()
    assert len(rows) == len(good) + len(malformed)
    out = {r["doc_id"]: tuple(r)[1:] for r in rows}
    for d in malformed:
        assert out[d] == ("", 0, 0)
    for d, tokens_json in good.items():
        assert out[d] == (f"g{d}_0 g{d}_1 g{d}_2", 3, 1)
        assert out[d][0] == spans(json.loads(tokens_json))[0]


def test_boilerplate_spark_operator_shuffle_free(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stripped = strip_boilerplate_column(synthesize_pages(docs))
    plan = stripped._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    rows = stripped.collect()
    assert len(rows) == docs.count()
    originals = {r["doc_id"]: r["text"] for r in docs.collect()}
    recovered = sum(
        1 for r in rows
        if " ".join(r["main_text"].split()) == " ".join(originals[r["doc_id"]].split())
    )
    # recovery invariant at corpus level (tiny docs may fall under the
    # near-good word floor)
    assert recovered >= 0.95 * len(rows)
    assert all(r["n_content_blocks"] < r["n_blocks"] for r in rows)


def test_tokenizer_never_crashes_on_soup():
    """Random malformed HTML soup: the streaming tokenizer salvages what
    it can and the classifier stays total."""
    rng = random.Random(4)
    frags = ["<p>", "</p>", "<div", ">", "<a href='x'>", "</a>", "<nav>", "</nav>",
             "&#xx;", "&amp;", "<![bad[", "<!--", "-->", "< p>", "<<>", "text ",
             _words(8), _words(20), "\x00", "<td", "</html>"]
    for _ in range(500):
        soup = "".join(rng.choice(frags) for _ in range(rng.randint(0, 30)))
        main, nb, nc, perr = strip_boilerplate(soup)
        assert isinstance(perr, bool)
        assert nc <= nb
        assert isinstance(main, str)


def test_transcript_turn_wrapper(spark):
    from ds4sd_docling_tableformer_onnx_spark.operators.maincontent import (
        strip_transcript_turns,
    )

    rows = [("c1", i, synthesize_page(i, _words(60, seed=i))) for i in range(8)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = strip_transcript_turns(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0
    got = {r["turn_idx"]: r for r in out.collect()}
    assert len(got) == 8
    for i in range(8):
        assert " ".join(got[i]["main_text"].split()) == _words(60, seed=i)
        assert got[i]["conv_id"] == "c1"


def test_reading_order_recovers_random_layouts():
    """Property: tokens placed on well-separated random lines with
    vertical jitter under the clustering tolerance are always recovered
    in construction order, from any input permutation."""
    rng = random.Random(31)
    for _ in range(200):
        n_lines = rng.randint(1, 8)
        toks, expect = [], []
        tid = 0
        y = 1000.0
        for li in range(n_lines):
            n_tok = rng.randint(1, 6)
            x = 0.0
            for _t in range(n_tok):
                jitter = rng.uniform(-1.9, 1.9)  # pairwise spread < 0.5*h tolerance
                toks.append(_token(tid, f"t{tid}", x, y + jitter))
                expect.append(f"t{tid}")
                tid += 1
                x += rng.uniform(12.0, 30.0)
            y -= rng.uniform(20.0, 40.0)  # gap > tolerance: new line
        rng.shuffle(toks)
        got = spans(toks)[0].replace("\n", " ").split()
        assert got == expect


def test_strip_never_hallucinates_words():
    """Property: every word in the stripped output appears in the input
    HTML — the stripper only removes, never invents."""
    rng = random.Random(77)
    for _ in range(200):
        text = _words(rng.randint(0, 80), seed=rng.randint(0, 999))
        html = synthesize_page(rng.randint(0, 500), text)
        main, _, _, _ = strip_boilerplate(html)
        html_words = set(html.replace("<", " <").replace(">", "> ").split())
        for w in main.split():
            assert w in html_words
