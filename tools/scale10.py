#!/usr/bin/env python
"""Materialize a K-times (default 10x: sf1-equivalent) replica of the sf0.1
testdata for the full-registry scale sweep (VERDICT r7 task 1).

Replication must grow the data WITHOUT planting artificial cross-replica
structure — otherwise the scaling table lies in both directions:

  * naive duplication makes every pair-finding operator's TRUE answer grow
    quadratically (10 identical copies of a document/vector/customer are
    C(10,2) genuine cross-replica matches each), so a perfectly linear
    operator reads as superlinear;
  * while key-range collisions would under-count state (10 replicas sharing
    user_id 7 fold into ONE aggregation key instead of growing the key
    space the way real data growth does).

Scheme (replica i of K, replica 0 byte-identical to the original):

  * Foreign-key families shift together, so intra-replica join structure is
    exact: customer/orders(+o_custkey)/lineitem(+l_orderkey,l_partkey,
    l_suppkey) share per-table offsets of i*|table|; events shift event_id
    and user_id; documents/embeddings shift doc_id/vec_id. region/nation
    stay fixed (TPC-H scales them with a constant 25/5 too).
  * documents.text: every token gets an `r{i}` prefix (i>0) — the
    replication discipline of the r3 scaling curve (SCALE_NOTES.md):
    intra-replica shingle/dup structure is preserved EXACTLY (prefixing
    is a vocabulary bijection), cross-replica
    token/shingle/digest matches are zero by construction, so dedup and
    similarity candidates must grow linearly in K. n_chars is recomputed to
    keep the n_chars == length(text) invariant.
  * embeddings.embedding: per-replica deterministic sign-flip mask over the
    64 dims (i>0). Sign flips are isometries — intra-replica cosine
    structure (near-dup cliques, label geometry) is preserved exactly —
    while cross-replica copies of the same vector land near cosine 0 for
    mass-spread vectors, so ANN/near-dup answers grow linearly, not K^2.
  * customer.c_name gets a per-replica prefix tag with pairwise Levenshtein
    distance >= 3 (and >= 3 vs the empty replica-0 tag), and c_acctbal
    shifts by i*20000.00, so the entity-resolution blocking keys
    (nationkey+cents, segment+name-suffix) cannot merge replicas into one
    block: ER candidates and verified matches stay linear in K.

  * FIXED-CARDINALITY DIMENSION ATTRIBUTES replicate verbatim — and that
    is deliberate, not a key-collision bug (ADVICE r8): events.props.k is
    a 100-value dimension (the nexmark category/item dimension — its
    whole domain is [0, 100) at every SF), documents.source (~20 values)
    and documents.lang (6 values) likewise. Real 10x data growth keeps
    dimension domains fixed and grows rows-per-key 10x — exactly like
    region/nation staying 5/25 at every TPC-H SF. Queries that GROUP BY a
    props-/source-/lang-derived key therefore keep a constant key count
    with 10x heavier groups in the scaling table; only entity-keyed state
    (user_id, doc_id, *_key, event_id) measures key-space growth. The
    scaling table's linearity conclusions should read dimension-keyed
    entries as rows-per-key growth, not state-size growth.

Output: single-file-per-table parquet (named {t}.parquet like the driver
testdata) with 64 Ki-row row groups so both engines parallelize the scan;
schemas are preserved from the source files (timestamp[us] stays
timestamp[us]). A .done marker makes rebuilds idempotent.

    python tools/scale10.py [K] [OUT_DIR]   # default 10 /tmp/sf1.0
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.environ.get("SCALE10_BASE", "/root/testdata/sf0.1")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# key column -> offset base (the table's row count, i.e. max_key+1 in the
# driver testdata, dense 0..n-1); FK columns reuse the referenced table's
# base so intra-replica joins stay exact
OFFSETS = {
    "customer": {"c_custkey": 15_000},
    "supplier": {"s_suppkey": 1_000},
    "part": {"p_partkey": 20_000},
    "orders": {"o_orderkey": 150_000, "o_custkey": 15_000},
    "lineitem": {
        "l_orderkey": 150_000,
        "l_partkey": 20_000,
        "l_suppkey": 1_000,
    },
    "events": {"event_id": 100_000, "user_id": 1_500},
    "documents": {"doc_id": 5_000},
    "embeddings": {"vec_id": 2_000},
}


def _name_tag(i: int) -> str:
    """Per-replica customer-name prefix with pairwise Levenshtein >= 3 for
    ANY two distinct replicas (and >= 3 vs replica 0's empty tag): each of
    the three letters is an independent base-26 digit of i, repeated 3x —
    two distinct i differ in at least one digit, hence in >= 3 positions.
    (ADVICE r8: the old `i % 26`-letter + decimal-suffix tag collapsed to
    edit distance 2 for i ≡ i' mod 26, and i % 26 == 0 produced a backtick
    — both broke the ER blocking-key linearity argument at K > 26.)"""
    if i == 0:
        return ""
    d0, d1, d2 = i % 26, (i // 26) % 26, (i // 676) % 26
    return "".join(chr(97 + d) * 3 for d in (d2, d1, d0))


def _flip_mask(i: int, dim: int) -> np.ndarray:
    """Deterministic ±1 sign mask per replica (identity for replica 0):
    splitmix64-style bit mix of the replica index, bits -> signs."""
    if i == 0:
        return np.ones(dim, dtype=np.float32)
    x = (i * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    bits = []
    while len(bits) < dim:
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & 0xFFFFFFFFFFFFFFFF
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & 0xFFFFFFFFFFFFFFFF
        x = x ^ (x >> 31)
        bits.extend((x >> b) & 1 for b in range(64))
    return np.where(np.array(bits[:dim]) == 1, -1.0, 1.0).astype(np.float32)


def _replica(tbl: pa.Table, name: str, i: int) -> pa.Table:
    if i == 0:
        return tbl
    cols = {}
    for field in tbl.schema:
        c = tbl.column(field.name)
        off = OFFSETS.get(name, {}).get(field.name)
        if off is not None:
            c = pc.add(c, pa.scalar(i * off, type=field.type))
        elif name == "documents" and field.name == "text":
            c = pc.replace_substring_regex(c, r"(^| )", rf"\1r{i}")
        elif name == "customer" and field.name == "c_name":
            c = pc.binary_join_element_wise(
                pa.array([_name_tag(i)] * len(tbl), type=pa.string()),
                c.combine_chunks(),
                "",
            )
        elif name == "customer" and field.name == "c_acctbal":
            c = pc.add(c, pa.scalar(i * 20_000.0, type=field.type))
        elif name == "embeddings" and field.name == "embedding":
            flat = c.combine_chunks().flatten().to_numpy(zero_copy_only=False)
            dim = len(flat) // len(tbl)
            flipped = (
                flat.reshape(len(tbl), dim) * _flip_mask(i, dim)
            ).reshape(-1)
            c = pa.FixedSizeListArray.from_arrays(
                pa.array(flipped, type=field.type.value_type), dim
            ).cast(field.type)
        cols[field.name] = c
    out = pa.table(cols, schema=pa.schema(list(tbl.schema)))
    if name == "documents":
        # keep the n_chars == length(text) invariant after token prefixing
        n_chars = pc.utf8_length(out.column("text")).cast(pa.int64())
        out = out.set_column(
            out.schema.get_field_index("n_chars"), "n_chars", n_chars
        )
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1.0"
    done = os.path.join(out_dir, ".done")
    if os.path.exists(done):
        print(f"{out_dir} already built")
        return
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = pq.read_table(f"{BASE}/{t}.parquet")
        src = src.replace_schema_metadata(None)
        if t in ("region", "nation"):
            reps = src  # fixed-size dims, like TPC-H at every SF
        else:
            reps = pa.concat_tables(_replica(src, t, i) for i in range(k))
        pq.write_table(
            reps, f"{out_dir}/{t}.parquet", row_group_size=64 * 1024
        )
        print(f"{t}: {len(src)} -> {len(reps)} rows")
    open(done, "w").close()
    print(f"built {out_dir} (K={k})")


if __name__ == "__main__":
    main()
