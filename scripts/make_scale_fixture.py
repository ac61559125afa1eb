#!/usr/bin/env python3
"""Build a pseudo-sf1 fixture by replicating sf0.1 10x with per-replica
key offsets, for one-order-of-magnitude scale benching of the engine.

Design notes (what makes the replication honest):
 - every entity key gets `replica * OFFSET` added, and foreign keys get
   the same offset, so join cardinalities and per-key group sizes stay
   exactly those of sf0.1 — no cross-replica join fan-out, no skew bomb;
 - document TOKENS are suffixed `_r<replica>` for replicas > 0, so the
   intra-replica shingle/vocab structure is preserved exactly while
   cross-replica near-duplicate pairs (which would grow quadratically in
   the replica count and measure content duplication, not engine
   throughput) cannot form — this mimics "10x new unique content with
   the same statistical shape";
 - EMBEDDING dims are permuted by a per-replica seeded permutation for
   replicas > 0 — an orthogonal transform, so every within-replica
   norm/cosine/centroid is preserved bit-for-bit in set terms while
   cross-replica vectors decorrelate, keeping LSH/IVF candidate volume
   a measure of engine throughput rather than of the copies
   (the text-suffix trick's exact analogue for the vector column);
 - region/nation are dimensions referenced by unchanged nationkeys and
   stay single-copy, as a real sf1 would;
 - schemas are preserved via pyarrow (events.ts stays timestamp[ns]).

Usage: python3 scripts/make_scale_fixture.py [src] [dst] [replicas]
(dst defaults to target/sf1 of the checkout holding this script)
"""
import sys
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc
import os

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DST = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "..", "target", "sf1")
REPLICAS = int(sys.argv[3]) if len(sys.argv) > 3 else 10
OFFSET = 10_000_000

# table -> columns that get the per-replica key offset
KEYED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
SINGLE_COPY = ["region", "nation"]


def suffix_tokens(col: pa.ChunkedArray, r: int) -> pa.Array:
    """token -> token_r<r> for every whitespace token, preserving
    intra-replica structure while breaking cross-replica similarity."""
    toks = pc.split_pattern(col, " ")
    suffixed = pc.binary_join_element_wise(
        pc.cast(toks, pa.list_(pa.string())).combine_chunks().values,
        f"_r{r}", "")
    flat = toks.combine_chunks()
    rebuilt = pa.LargeListArray.from_arrays(
        flat.offsets, suffixed) if isinstance(
        flat, pa.LargeListArray) else pa.ListArray.from_arrays(
        flat.offsets, suffixed)
    joined = pc.binary_join(rebuilt, " ")
    # from_arrays(offsets, values) drops the source validity bitmap, so
    # restore it: a NULL text row must stay NULL in the replica, not
    # become an empty/non-null string.
    return pc.if_else(pc.is_valid(col.combine_chunks()), joined,
                      pa.scalar(None, joined.type))


def permute_dims(col: pa.ChunkedArray, r: int) -> pa.Array:
    """Apply a seeded per-replica permutation to every vector's dims —
    orthogonal, so within-replica geometry is untouched while
    cross-replica similarity is destroyed."""
    import numpy as np
    arr = col.combine_chunks()
    n = len(arr)
    flat = arr.values.to_numpy(zero_copy_only=False)
    dim = flat.shape[0] // n
    perm = np.random.RandomState(97 + r).permutation(dim)
    permuted = flat.reshape(n, dim)[:, perm].reshape(-1)
    vals = pa.array(permuted, type=arr.values.type)
    out = (pa.LargeListArray.from_arrays(arr.offsets, vals)
           if isinstance(arr, pa.LargeListArray)
           else pa.ListArray.from_arrays(arr.offsets, vals))
    return pc.if_else(pc.is_valid(arr), out, pa.scalar(None, out.type))


def main():
    os.makedirs(DST, exist_ok=True)
    for name in SINGLE_COPY:
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{DST}/{name}.parquet")
        print(f"{name}: {t.num_rows} rows (single copy)")
    for name, keys in KEYED.items():
        t = pq.read_table(f"{SRC}/{name}.parquet")
        parts = []
        for r in range(REPLICAS):
            rt = t
            for k in keys:
                i = rt.schema.get_field_index(k)
                typ = rt.schema.field(i).type
                shifted = pc.add(rt.column(k), pa.scalar(r * OFFSET, typ))
                rt = rt.set_column(i, rt.schema.field(i), shifted)
            if name == "documents" and r > 0:
                i = rt.schema.get_field_index("text")
                rt = rt.set_column(
                    i, rt.schema.field(i),
                    suffix_tokens(rt.column("text"), r))
            if name == "embeddings" and r > 0:
                i = rt.schema.get_field_index("embedding")
                rt = rt.set_column(
                    i, rt.schema.field(i),
                    permute_dims(rt.column("embedding"), r))
            parts.append(rt)
        out = pa.concat_tables(parts)
        pq.write_table(out, f"{DST}/{name}.parquet")
        print(f"{name}: {t.num_rows} -> {out.num_rows} rows")


if __name__ == "__main__":
    main()
