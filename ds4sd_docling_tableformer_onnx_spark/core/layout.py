"""PDF layout parsing: text tokens -> ordered text spans (reading order).

North-star component (BASELINE.json): "PDF layout parsing into ordered
text spans".  Input is the same token shape the table pipeline consumes
(pdf cells ``{id, text, bbox=[x1,y1,x2,y2]}`` in page coordinates,
origin lower-left, y up — the coordinate contract of
tf_cell_matcher.py:88-99); output is the tokens grouped into LINES and
emitted in reading order: lines top-to-bottom, tokens left-to-right.

Line grouping is the standard greedy vertical-overlap clustering used by
pdfminer/pdfplumber-style extractors: a token joins an open line when
its vertical center lies within half the larger of (token height, line
height) of the line's running center.  Deterministic: ties broken by
(y desc, x asc, id asc).
"""

from __future__ import annotations


def reading_order(tokens):
    """tokens: list of {id, text, bbox} -> (ordered_tokens, line_ids).

    Returns the tokens in reading order plus the 0-based line index of
    each returned token.
    """
    items = []
    for t in tokens:
        x1, y1, x2, y2 = t["bbox"]
        items.append((-(y1 + y2) / 2.0, x1, t.get("id", 0), t))
    items.sort(key=lambda it: (it[0], it[1], it[2]))

    lines = []  # each: {"yc": running center, "h": running height, "items": [...]}
    for neg_yc, x1, _tid, tok in items:
        yc = -neg_yc
        h = tok["bbox"][3] - tok["bbox"][1]
        placed = False
        for line in lines:
            tol = 0.5 * max(h, line["h"])
            if abs(yc - line["yc"]) <= tol:
                n = len(line["items"])
                line["items"].append(tok)
                line["yc"] = (line["yc"] * n + yc) / (n + 1)
                line["h"] = max(line["h"], h)
                placed = True
                break
        if not placed:
            lines.append({"yc": yc, "h": h, "items": [tok]})

    lines.sort(key=lambda ln: -ln["yc"])
    ordered, line_ids = [], []
    for li, line in enumerate(lines):
        line["items"].sort(key=lambda t: (t["bbox"][0], t.get("id", 0)))
        for tok in line["items"]:
            ordered.append(tok)
            line_ids.append(li)
    return ordered, line_ids


def spans(tokens):
    """Reading-order spans: (text, n_tokens, n_lines), where the text is
    one string per line, lines joined by newline."""
    ordered, line_ids = reading_order(tokens)
    lines: list[list[str]] = []
    for tok, li in zip(ordered, line_ids):
        while len(lines) <= li:
            lines.append([])
        lines[li].append(tok["text"])
    return "\n".join(" ".join(words) for words in lines), len(ordered), len(lines)
