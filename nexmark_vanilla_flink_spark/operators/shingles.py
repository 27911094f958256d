"""The text-hashing spec of the MinHash/LSH family, written once: word
n-gram shingles over a tokens array, one md5 per shingle, ``_N_HASHES``
minimums over byte rotations of the doubled digest, and band signatures of
``_BAND_ROWS`` minimums each.

The batch chain (``plans.pipeline._minhash_derive``: explode, then a
groupBy min) and the row-local chain (``row_signatures``: ``array_min``
inside the row, for streamed documents) build their columns here, so the
two sign a document identically. The DuckDB oracles keep their own SQL:
they are the reference both chains are checked against.

Keep the lambda variable ``j`` in ``word_ngrams``:
tests/test_curation_dedup.py finds the shingle projection in optimized
plans by it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_N_HASHES = 12
_BAND_ROWS = 3  # → 4 bands
_N_BANDS = _N_HASHES // _BAND_ROWS


def word_ngrams(ws: str, n: int, digest: bool = False) -> Column:
    """Every run of ``n`` consecutive tokens of the array column ``ws``,
    joined by single spaces (or its md5 with ``digest``), in position
    order; an empty array when the document has fewer than ``n`` tokens."""
    tail = "".join(f", {ws}[j+{k}]" for k in range(1, n))
    gram = f"concat_ws(' ', {ws}[j]{tail})"
    if digest:
        gram = f"md5({gram})"
    return F.expr(
        f"CASE WHEN size({ws}) >= {n} THEN "
        f"transform(sequence(0, size({ws}) - {n}), "
        f"j -> {gram}) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def word_chunks(ws: str, w: int, digest: bool = False) -> Column:
    """The tokens of the array column ``ws`` cut into consecutive
    non-overlapping runs of ``w`` (the last one holds the remainder), each
    joined by single spaces (or its md5 with ``digest``), in position
    order."""
    chunk = f"concat_ws(' ', slice({ws}, j * {w} + 1, {w}))"
    if digest:
        chunk = f"md5({chunk})"
    return F.expr(
        f"transform(sequence(0, CAST(ceil(size({ws}) / {w}.0) AS INT) - 1), "
        f"j -> {chunk})"
    )


def rotation(doubled: str, s: int) -> str:
    """SQL text of rotation ``s``: the 16 hex chars (8 bytes) at byte
    offset ``s`` of the doubled 32-char digest ``doubled``."""
    return f"substr({doubled}, {s * 2 + 1}, 16)"


def band_signatures() -> list[Column]:
    """``sig0..sig3`` from the minimum columns ``mh0..mh11``: band ``b`` is
    the md5 of its ``s:mh<s>`` entries, sorted and joined by ``|``."""
    return [
        F.md5(
            F.array_join(
                F.array_sort(
                    F.array(
                        *[
                            F.concat(F.lit(f"{s}:"), F.col(f"mh{s}"))
                            for s in range(b * _BAND_ROWS, (b + 1) * _BAND_ROWS)
                        ]
                    )
                ),
                "|",
            )
        ).alias(f"sig{b}")
        for b in range(_N_BANDS)
    ]


def band_array() -> Column:
    """The band signatures as one array, for ``posexplode`` into
    (band, sig) rows."""
    return F.array(*[F.col(f"sig{b}") for b in range(_N_BANDS)])


def row_signatures(frame: DataFrame, *keep: Column) -> DataFrame:
    """The row-local chain over a (doc_id, text) frame: (doc_id, *keep,
    sig0..sig3), each minimum taken inside the row with ``array_min``. No
    aggregation, so it runs on a stream.

    The tokens and the doubled digests are projected in their own steps:
    CollapseProject keeps a projection whose output feeds several
    non-cheap references, so ``split`` is not inlined back into the
    shingle lambda (O(tokens²) work per document)."""
    staged = (
        frame.withColumn("ws", F.split("text", " "))
        .withColumn("hs", word_ngrams("ws", 3, digest=True))
        # doubled digest once per shingle, not once per shingle and rotation
        .withColumn("hh", F.expr("transform(hs, h -> concat(h, h))"))
    )
    # all 12 minimums in ONE projection (a 12-step withColumn chain costs
    # 12 analyzer passes per construction; same values either way)
    mins = staged.select(
        "doc_id",
        "text",
        *[
            F.expr(f"array_min(transform(hh, h -> {rotation('h', s)}))").alias(
                f"mh{s}"
            )
            for s in range(_N_HASHES)
        ],
    )
    return mins.select("doc_id", *keep, *band_signatures())
