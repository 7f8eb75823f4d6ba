"""OTSL <-> HTML structure-token conversion.

OTSL ("optimized table structure language") describes a table as a square
grid of tags, rows delimited by ``nl``:

- ``fcel``  full (non-empty) cell           - ``lcel``  left-looking span filler
- ``ecel``  empty cell                      - ``ucel``  up-looking span filler
- ``ched``  column-header cell              - ``xcel``  2-D span filler
- ``rhed``  row-header cell                 - ``nl``    end of row
- ``srow``  section-row cell

Behavioral parity with the reference implementation
(``tableformer-docling/docling_ibm_models/tableformer/otsl.py``: clean
30-36, square check 39-65, pad 68-81, walkers 99-123, otsl_to_html
125-245, html_to_otsl 248-554) is pinned by the tests in
``tests/test_otsl.py`` against the FinTabNet ground-truth parquet and the
``tableformer_sequence_decoding_reference.json`` golden fixture.  Several
quirks of the reference are intentionally preserved; they are marked with
``# parity:`` comments.
"""

from __future__ import annotations

# Tags that open a table cell (everything else is span filler / delimiter).
CELL_TAGS = ("fcel", "ched", "rhed", "srow", "ecel")
_CELL_TAG_SET = frozenset(CELL_TAGS)  # hot-loop membership (same domain)
STOP_TOKENS = ("<pad>", "<unk>", "<start>", "<end>")

# Span attribute tokens recognised by the HTML->OTSL scanner.  The
# reference enumerates spans 2..20 explicitly (otsl.py:268-310); we match
# that domain: a colspan/rowspan outside 2..20 is NOT treated as a span.
_SPAN_RANGE = range(2, 21)
COLSPAN_TOKENS = {f' colspan="{n}"': n for n in _SPAN_RANGE}
ROWSPAN_TOKENS = {f' rowspan="{n}"': n for n in _SPAN_RANGE}


def clean_tags(tags):
    """Drop decoder control tokens (reference P4, otsl.py:30-36)."""
    return [t for t in tags if t not in STOP_TOKENS]


def split_rows(tags):
    """Split a flat OTSL tag stream into rows on ``nl`` delimiters.

    Maximal runs of non-``nl`` tags form rows; a trailing run without a
    closing ``nl`` still counts as a row (itertools.groupby semantics of
    the reference, otsl.py:40-42).
    """
    rows = []
    current = []
    for tag in tags:
        if tag == "nl":
            if current:
                rows.append(current)
                current = []
        else:
            current.append(tag)
    if current:
        rows.append(current)
    return rows


def is_square(tags):
    """True when every row has the same length as the first row.

    Single pass over the maximal non-``nl`` runs — same row semantics as
    ``split_rows`` without materializing the row lists.
    """
    width = -1
    current = 0
    for tag in tags:
        if tag == "nl":
            if current:
                if width < 0:
                    width = current
                elif current != width:
                    return False
                current = 0
        else:
            current += 1
    if current:
        return width < 0 or current == width
    return True


def pad_to_square(tags, pad_tag):
    """Right-pad every row to the longest row's length with ``pad_tag``."""
    rows = split_rows(tags)
    width = max((len(r) for r in rows), default=0)
    out = []
    for row in rows:
        out.extend(row)
        out.extend([pad_tag] * (width - len(row)))
        out.append("nl")
    return out


# Stop-lists for the span walkers (otsl.py:102,115).  The walkers stop
# only on these tags — any OTHER token (lcel/xcel, but also non-OTSL
# garbage in a malformed stream) is walked THROUGH and counted into the
# span; a walk that hits the grid edge without a stop tag keeps its
# final +1.  Identical to lcel/xcel run-counting on well-formed grids,
# but parity on arbitrary streams requires the reference's exact loop.
_DOWN_STOP = frozenset(("fcel", "ched", "rhed", "srow", "ecel", "lcel", "nl"))
_RIGHT_STOP = frozenset(("fcel", "ched", "rhed", "srow", "ecel", "ucel", "nl"))

# Pre-rendered span attribute tokens for the common span range; any
# extent outside it falls back to the identical f-string.
_COLSPAN_STR = {n: f' colspan="{n}"' for n in range(2, 41)}
_ROWSPAN_STR = {n: f' rowspan="{n}"' for n in range(2, 41)}


def _run_right(grid, x, y):
    """Horizontal span extent from (x, y) (otsl.py:112-122)."""
    row = grid[y]
    distance = 1
    elem = "lcel"
    while elem not in _RIGHT_STOP and x < len(row) - 1:
        x += 1
        distance += 1
        elem = row[x]
    if elem in _RIGHT_STOP:
        distance -= 1
    return distance


def _run_down(grid, x, y):
    """Vertical span extent from (x, y) (otsl.py:99-109)."""
    distance = 1
    elem = "ucel"
    while elem not in _DOWN_STOP and y < len(grid) - 1:
        y += 1
        distance += 1
        elem = grid[y][x]
    if elem in _DOWN_STOP:
        distance -= 1
    return distance


def otsl_to_html(tags):
    """Convert an OTSL tag stream into HTML structure tokens.

    Reference: otsl.py:125-245 (otsl_to_html).  Emits
    ``<thead> </thead> <tr> </tr> <td> </td>`` plus split-form spanned
    cells ``<td`` ``' colspan="N"'`` ``' rowspan="N"'`` ``>`` ``</td>``.

    Parity quirks preserved:
    - a stream whose first tag is not a cell tag is returned unchanged
      (assumed to already be HTML);
    - non-square input is padded with ``lcel``;
    - a 2-D (xcel) span emits ``rowspan`` before ``colspan`` and only when
      the *horizontal* extent is > 1;
    - ``<thead>`` opens on the first row containing ``ched`` and closes on
      the next row without one; a table ending inside a header never emits
      ``</thead>``.
    """
    if not tags:
        return []
    if tags[0] not in CELL_TAGS:
        return list(tags)  # parity: assume it is already HTML

    # One split; squareness checked on the row lists and padding applied
    # row-wise (identical to pad_to_square + re-split).
    grid = split_rows(tags)
    if grid:
        width = max(len(r) for r in grid)
        if any(len(r) != width for r in grid):
            grid = [r + ["lcel"] * (width - len(r)) for r in grid]

    html = []
    append = html.append
    claimed = set()  # cells consumed by an emitted 2-D span
    in_thead = False
    n_rows = len(grid)

    for y, row in enumerate(grid):
        if not in_thead and "ched" in row:
            append("<thead>")
            in_thead = True
        if in_thead and "ched" not in row:
            append("</thead>")
            in_thead = False

        append("<tr>")
        row_len = len(row)
        for x, tag in enumerate(row):
            if tag not in _CELL_TAG_SET:
                continue
            nxt = row[x + 1] if x + 1 < row_len else None
            below_ucel = y + 1 < n_rows and grid[y + 1][x] == "ucel"
            if nxt != "lcel" and nxt != "xcel" and not below_ucel:
                append("<td>")
                append("</td>")
                continue
            rdist = ddist = xr = xd = 0
            span = False
            if nxt == "lcel":
                rdist = _run_right(grid, x, y)
                span = True
            if below_ucel:
                ddist = _run_down(grid, x, y)
                span = True
            if nxt == "xcel":
                xr = _run_right(grid, x, y)
                xd = _run_down(grid, x, y)
                span = True
                block = [
                    (cx, cy)
                    for cx in range(x, x + xr)
                    for cy in range(y, y + xd)
                ]
                if any(c in claimed for c in block):
                    span = False  # parity: overlapping 2-D span cancelled
                else:
                    claimed.update(block)
            if span:
                append("<td")
                if rdist > 1:
                    append(_COLSPAN_STR.get(rdist) or f' colspan="{rdist}"')
                if ddist > 1:
                    append(_ROWSPAN_STR.get(ddist) or f' rowspan="{ddist}"')
                if xr > 1:  # parity: gate + ordering for 2-D spans
                    append(_ROWSPAN_STR.get(xd) or f' rowspan="{xd}"')
                    append(_COLSPAN_STR.get(xr) or f' colspan="{xr}"')
                append(">")
                append("</td>")
            else:
                append("<td>")
                append("</td>")
        append("</tr>")

    return html


# Formatting tokens scrubbed before the empty-cell test (reference P5,
# otsl.py:424-432).
_FORMATTING_TOKENS = frozenset(
    ("<i>", "<I>", "<b>", "<B>", " ", "</b>", "</B>", "</i>", "</I>")
)


def cell_is_empty(tokens):
    """True when a cell's content tokens are empty after scrubbing
    formatting markers."""
    return all(t in _FORMATTING_TOKENS for t in tokens)


def html_to_otsl(html_tokens, cell_tokens=None):
    """Convert HTML structure tokens back into an OTSL stream + span map.

    Reference: otsl.py:248-554 (html_to_otsl).  ``cell_tokens`` is an
    optional flat list (one entry per ``<td>``) of content-token lists
    used for empty-cell (``ecel``) detection; when absent — the predictor
    configuration — every ``<td>`` produces ``fcel`` (the reference
    substitutes a non-empty placeholder when ``cells`` are missing,
    otsl.py:417-421).

    Returns ``(ok, result)`` where ``result`` has keys:

    - ``tokens``        the OTSL stream (padded to square with ``fcel``)
    - ``spans``         {cell_index: [colspan, rowspan]} for spanned cells
    - ``cols``/``rows`` grid dimensions
    - ``html_restored`` HTML tokens regenerated from the OTSL stream
                        (empty when the stream was not square)

    ``ok`` is False when the structure is inconsistent (a row is wider
    than the row above it allows).
    """
    try:
        return _html_to_otsl_impl(html_tokens, cell_tokens)
    except IndexError:
        # Reference raises on malformed structures outside the guarded
        # path; we degrade to the same "failed" contract.
        return False, {}


def _html_to_otsl_impl(html_tokens, cell_tokens=None):
    stream = []        # flat OTSL stream
    row_count = 0
    col_count = 0
    spans = {}         # html-cell-index -> [colspan, rowspan]

    # Per-row bookkeeping.  ``expands[r][c]`` remembers, for the tag at
    # (r, c), how the cell extends into following rows:
    # [horizontal extent remaining, vertical extent remaining].
    expands = []
    line_tags = []
    line_expands = []
    cur_col = 0
    html_cell_idx = 0

    n = len(html_tokens)
    for i, tok in enumerate(html_tokens):
        if tok in ("<thead>", "<tbody>"):
            continue

        # Carry row-spans down from the previous row before placing the
        # next cell (or closing the row).
        if tok in ("<td>", "<td", "</tr>") and expands:
            prev_row = expands[-1]
            if cur_col >= len(prev_row):
                return False, {}
            up = prev_row[cur_col]
            while up[1] > 0:
                if up[0] == 0:
                    line_tags.append("ucel")
                    line_expands.append([0, up[1] - 1])
                    cur_col += 1
                else:
                    for ci in range(up[0]):
                        line_tags.append("xcel")
                        line_expands.append([up[0] - ci, up[1] - 1])
                        cur_col += 1
                up = prev_row[cur_col]

        # Trailing span fillers for a row that ended short.
        if tok == "</tr>" and expands:
            prev_row = expands[-1]
            extra = len(prev_row) - len(line_expands) - 1
            for k in range(extra):
                up = prev_row[len(line_expands)]
                if up[0] == 0:
                    line_tags.append("ucel")
                    line_expands.append([0, up[1] - 1])
                else:
                    # parity: a single xcel regardless of horizontal extent
                    line_tags.append("xcel")
                    line_expands.append([up[0], up[1] - 1])

        if tok in ("<td>", "<td"):
            empty = (
                cell_tokens is not None
                and html_cell_idx < len(cell_tokens)
                and cell_is_empty(cell_tokens[html_cell_idx])
            )
            line_tags.append("ecel" if empty else "fcel")
            line_expands.append([0, 0])
            html_cell_idx += 1
            cur_col += 1

        elif tok == "</tr>":
            col_count = max(col_count, len(line_tags))
            line_tags.append("nl")
            stream.extend(line_tags)
            line_expands.append([-1, -1])
            expands.append(line_expands)
            line_tags = []
            line_expands = []
            cur_col = 0
            row_count += 1

        elif tok in COLSPAN_TOKENS:
            # prev/next only matter on span tokens — computed lazily here
            prev_tok = html_tokens[i - 1] if i > 0 else ""
            next_tok = html_tokens[i + 1] if i + 1 < n else ""
            if prev_tok not in ROWSPAN_TOKENS and next_tok not in ROWSPAN_TOKENS:
                width = COLSPAN_TOKENS[tok]
                spans[html_cell_idx - 1] = [width, 1]
                line_expands[-1] = [width, 0]
                for ci in range(width - 1):
                    line_tags.append("lcel")
                    line_expands.append([width - ci - 1, 0])
                    cur_col += 1

        if tok in ROWSPAN_TOKENS:
            height = ROWSPAN_TOKENS[tok]
            prev_tok = html_tokens[i - 1] if i > 0 else ""
            next_tok = html_tokens[i + 1] if i + 1 < n else ""
            if prev_tok not in COLSPAN_TOKENS and next_tok not in COLSPAN_TOKENS:
                spans[html_cell_idx - 1] = [1, height]
                line_expands[-1] = [0, height - 1]
            if prev_tok in COLSPAN_TOKENS:
                width = COLSPAN_TOKENS[prev_tok]
                spans[html_cell_idx - 1] = [width, height]
                line_expands[-1] = [width, height - 1]
                for ci in range(width - 1):
                    line_tags.append("xcel")
                    line_expands.append([width - ci - 1, height - 1])
            if next_tok in COLSPAN_TOKENS:
                width = COLSPAN_TOKENS[next_tok]
                spans[html_cell_idx - 1] = [width, height]
                line_expands[-1] = [width, height - 1]
                for ci in range(width - 1):
                    line_tags.append("xcel")
                    line_expands.append([width - ci - 1, height - 1])

    square = is_square(stream)
    if not square:
        stream = pad_to_square(stream, "fcel")
    restored = otsl_to_html(stream) if square else []

    return True, {
        "tokens": stream,
        "spans": spans,
        "cols": col_count,
        "rows": row_count,
        "html_restored": restored,
    }
