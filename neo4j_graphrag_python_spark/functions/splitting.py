"""Fixed-size text splitting — exact port of the reference semantics.

Reference: experimental/components/text_splitters/fixed_size_splitter.py
(_adjust_chunk_start 21-42, _adjust_chunk_end 45-67, run loop 106-149).
The whitespace-adjustment state machine is not expressible with built-in
Spark SQL functions; it runs as a pure function inside applyInPandas
(SURVEY.md §2.2 P1).  Golden cases from
tests/unit/.../test_fixed_size_splitter.py:143-187 are asserted in
tests/test_splitter.py byte-for-byte.

Returned spans are (start, end, text) so chunk lineage (char offsets into
the assembled document) is preserved for the per-turn-equality invariant.
"""

from __future__ import annotations

from typing import List, Tuple

Span = Tuple[int, int, str]  # (char_start, char_end, text)


def adjust_chunk_start(text: str, approximate_start: int) -> int:
    """Shift start backward to the previous whitespace boundary; fall back to
    the proposed start when the scan reaches offset 0 without finding one
    (fixed_size_splitter.py:21-42)."""
    start = approximate_start
    if start > 0 and not text[start].isspace() and not text[start - 1].isspace():
        while start > 0 and not text[start - 1].isspace():
            start -= 1
        if start == 0 and not text[0].isspace():
            start = approximate_start
    return start


def adjust_chunk_end(text: str, start: int, approximate_end: int) -> int:
    """Shift end backward off a mid-word position; fall back to the
    approximate end when the scan collapses to ``start``
    (fixed_size_splitter.py:45-67)."""
    end = approximate_end
    if end < len(text):
        while end > start and not text[end].isspace() and not text[end - 1].isspace():
            end -= 1
        if end == start:
            end = approximate_end
    return end


def split_text(
    text: str,
    chunk_size: int = 4000,
    chunk_overlap: int = 200,
    approximate: bool = True,
) -> List[Span]:
    """Split ``text`` into fixed / approximately-fixed chunks with overlap.

    Exact reproduction of ``FixedSizeSplitter.run``
    (fixed_size_splitter.py:106-149), returning char spans instead of
    TextChunk objects.
    """
    if chunk_size <= 0:
        raise ValueError("chunk_size must be strictly greater than 0")
    if chunk_overlap >= chunk_size:
        raise ValueError("chunk_overlap must be strictly less than chunk_size")

    spans: List[Span] = []
    step = chunk_size - chunk_overlap
    text_length = len(text)
    approximate_start = 0
    skip_adjust_chunk_start = False
    end = 0
    # Divergence guard.  The reference loop (fixed_size_splitter.py:124-149)
    # is a deterministic state machine over (approximate_start,
    # skip_adjust_chunk_start): a word longer than `step` can pull the
    # adjusted start back to the same boundary every iteration, so the
    # reference hangs, re-appending the same chunks forever (e.g.
    # " bbbbbb dddddddddddd" at chunk_size=10, overlap=5).  A state that
    # repeats is therefore a proof of non-termination — and conversely a
    # terminating reference run never repeats a state — so: replay the
    # reference byte-for-byte until a state repeats, then switch to plain
    # fixed-size stepping (the reference's approximate=False arm), which
    # strictly advances and preserves full coverage.  Outputs are identical
    # to the reference on every input where the reference terminates.
    seen_states: set[Tuple[int, bool]] = set()
    diverged = False

    while end < text_length:
        if approximate and not diverged:
            state = (approximate_start, skip_adjust_chunk_start)
            if state in seen_states:
                diverged = True
            else:
                seen_states.add(state)
        if approximate and not diverged:
            start = (
                approximate_start
                if skip_adjust_chunk_start
                else adjust_chunk_start(text, approximate_start)
            )
            approximate_end = min(start + chunk_size, text_length)
            end = adjust_chunk_end(text, start, approximate_end)
            skip_adjust_chunk_start = end == approximate_end
        else:
            start = approximate_start
            end = min(start + chunk_size, text_length)
        spans.append((start, end, text[start:end]))
        approximate_start = start + step

    return spans
