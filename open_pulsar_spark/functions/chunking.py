"""Bounded-sink chunking (SURVEY §2.8 X2; reference behavior at
telegram-agent.py:200-246, reimplemented from the documented contract,
not the code).

Contract (mirrors the reference's tested invariants,
tests/test-telegram-agent.py:165-179):
  - text within `limit` chars → exactly one chunk, unlabeled;
  - otherwise split into chunks, preferring paragraph boundaries
    ("\\n\\n"), then sentence boundaries (". "), then hard cuts;
  - when more than one chunk, each is prefixed "[i/N] " and the
    prefixed chunk still fits `limit` (header budget 8 chars);
  - no WORD content is lost: stripping labels and re-joining
    reproduces the source's non-whitespace content. Boundary
    whitespace is normalized exactly like the reference: splitting
    consumes the "\\n\\n" / ". " separators it splits on and strips
    chunk edges, so empty paragraphs and trailing separator runs
    vanish (verified against telegram-agent.py:200-246 — its
    paragraph `.strip()` and sentence re-join lose the same bytes;
    an over-limit text that is all separators past `limit` can even
    collapse to one unlabeled chunk, in both implementations).

Exposed both as a plain Python function (unit-testable, used by the
streaming sink) and as a Spark UDF returning array<string> (explode
for one-row-per-chunk).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

CHUNK_LIMIT = 4096
HEADER_BUDGET = 8  # initial "[i/N] " label reservation (covers N ≤ 99)


def _split_piece(piece: str, avail: int) -> list[str]:
    """Split one oversized piece at sentence boundaries, else hard."""
    out: list[str] = []
    while len(piece) > avail:
        window = piece[: avail + 1]
        cut = window.rfind(". ")
        if cut <= 0:
            cut = avail
        else:
            cut += 1  # keep the period with the left side
        out.append(piece[:cut])
        piece = piece[cut:].lstrip(" ")
    if piece:
        out.append(piece)
    return out


def _accumulate(text: str, avail: int) -> list[str]:
    """Paragraph-preferring accumulation into pieces of ≤ avail chars."""
    chunks: list[str] = []
    current = ""
    for para in text.split("\n\n"):
        candidate = f"{current}\n\n{para}" if current else para
        if len(candidate) <= avail:
            current = candidate
            continue
        if current:
            chunks.append(current)
            current = ""
        if len(para) <= avail:
            current = para
        else:
            # 2) sentence boundaries, then 3) hard cuts
            pieces = _split_piece(para, avail)
            chunks.extend(pieces[:-1])
            current = pieces[-1] if pieces else ""
    if current:
        chunks.append(current)
    return chunks


def chunk_text(text: str, limit: int = CHUNK_LIMIT) -> list[str]:
    """Split `text` into labeled chunks of at most `limit` chars."""
    if text is None:
        return []
    if len(text) <= limit:
        return [text]

    # The label budget depends on the chunk COUNT ("[100/123] " is 10
    # chars, not 8), which depends on the budget — so iterate: split
    # with the current reservation, and if the resulting count needs a
    # wider label, re-split with that width. The budget only grows
    # (log10 of the count), so this terminates in ≤ a few rounds, and
    # every labeled chunk provably fits `limit`.
    budget = HEADER_BUDGET
    while True:
        avail = limit - budget
        if avail < 1:
            raise ValueError(
                f"limit={limit} cannot fit a '[i/N] ' label plus content "
                f"(needs > {budget})"
            )
        chunks = _accumulate(text, avail)
        if not chunks:
            # Degenerate over-limit text made ONLY of paragraph
            # separators: the accumulator sees empty paragraphs and
            # produces nothing — hard-cut instead, so no input ever
            # silently chunks to zero rows.
            chunks = [text[i : i + avail] for i in range(0, len(text), avail)]
        if len(chunks) == 1:
            return chunks
        n = len(chunks)
        needed = len(f"[{n}/{n}] ")
        if needed <= budget:
            return [f"[{i + 1}/{n}] {c}" for i, c in enumerate(chunks)]
        budget = needed


def chunk_text_udf(limit: int = CHUNK_LIMIT):
    """Factory for a chunking UDF: col(text) → array<string>.

    Arrow-batched pandas_udf over the same `chunk_text` kernel: rows
    arrive as a Series per batch (one Python call per ~10k rows, not
    per row), so even though chunking normally only runs on sink-bound
    reply rows, it stays cheap if a caller ever puts it in a wide scan.
    """

    @F.pandas_udf(ArrayType(StringType()))
    def _chunk(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: chunk_text(t, limit))

    return _chunk
