#!/usr/bin/env python3
"""Build an N× key-shifted replica of a testdata sf dir for scale benches.

Usage: make_scale.py <src_sf_dir> <out_dir> <replicas> [tables...]

Replication preserves the statistical shape of each table while keeping
the replica cross-product OUT of similarity/dedup semantics:
 - fact/dim keys are shifted by replica*K (K = max key + 1), so join
   fan-outs and group cardinalities scale linearly, as real data would;
 - document text is passed through a per-replica seeded random
   permutation of 20 letters (translate), so replicas of one doc share
   almost no shingles — near-dup pair counts scale ~linearly instead of
   quadratically in the replica count. (An earlier version rotated a
   10-letter alphabet, which cycles with period 10: at 100 replicas
   every doc had 9 IDENTICAL copies, and the dedup family measured the
   resulting quadratic true-duplicate density instead of the engine —
   distinct seeded permutations have no such period.);
 - embeddings get a per-replica signed permutation of dimensions: an
   isometry within a replica (all pairwise dot products preserved),
   while cross-replica cosines scatter to ~0 — ANN/near-dup structure
   scales linearly, norms are bit-identical.

This is a PERF fixture only; correctness stays judged on the real
driver testdata.
"""
import sys
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROT = "aeiousnrtlcdmhgpbyfw"
KEYS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def rotations(n):
    # Replica 0 is the identity (the original corpus stays intact);
    # every other replica gets a distinct seeded permutation of ROT.
    # Unlike a rotation of ROT (period len(ROT)), permutations drawn
    # from a seeded RNG do not repeat in any realistic replica count,
    # so no two replicas of one doc share its letter mapping.
    rng = np.random.default_rng(11)
    out = [ROT]
    seen = {ROT}
    while len(out) < n:
        p = "".join(rng.permutation(list(ROT)))
        if p not in seen:
            seen.add(p)
            out.append(p)
    return out


def main():
    src, out, rep = sys.argv[1], sys.argv[2], int(sys.argv[3])
    tables = sys.argv[4:] or list(KEYS)
    con = duckdb.connect()
    import os
    os.makedirs(out, exist_ok=True)
    for t in tables:
        srcf = f"{src}/{t}.parquet"
        if t in ("region", "nation"):
            con.execute(f"COPY (SELECT * FROM '{srcf}') TO '{out}/{t}.parquet'")
            continue
        if t == "embeddings":
            tb = pq.read_table(srcf)
            ids = tb["vec_id"].to_numpy()
            emb = np.stack(tb["embedding"].to_numpy(zero_copy_only=False))
            lab = tb["label"].to_numpy()
            k = ids.max() + 1
            rng = np.random.default_rng(7)
            parts = []
            for i in range(rep):
                if i == 0:
                    e = emb
                else:
                    perm = rng.permutation(emb.shape[1])
                    sign = rng.choice([-1.0, 1.0], emb.shape[1]).astype(np.float32)
                    e = emb[:, perm] * sign
                parts.append(pa.table({
                    "vec_id": pa.array(ids + i * k, pa.int64()),
                    "embedding": pa.array(list(e), pa.list_(pa.float32())),
                    "label": pa.array(lab, pa.int32()),
                }))
            pq.write_table(pa.concat_tables(parts), f"{out}/{t}.parquet")
            continue
        shifts = ", ".join(
            f"(SELECT max({c})+1 FROM '{srcf}') AS k_{c}" for c in KEYS[t])
        cols = con.execute(f"DESCRIBE SELECT * FROM '{srcf}'").fetchall()
        rots = rotations(rep)
        sel = []
        for name, typ, *_ in cols:
            if name in KEYS[t]:
                sel.append(f"CAST(t.{name} + r.i * s.k_{name} AS {typ}) AS {name}")
            elif t == "documents" and name == "text":
                lst = "[" + ", ".join(f"'{r}'" for r in rots) + "]"
                sel.append(f"translate(t.text, '{ROT}', {lst}[r.i + 1]) AS text")
            else:
                sel.append(f"t.{name}")
        shift_src = f", (SELECT {shifts}) s" if shifts else ""
        con.execute(
            f"COPY (SELECT {', '.join(sel)} FROM '{srcf}' t, "
            f"range({rep}) r(i){shift_src} ORDER BY r.i) "
            f"TO '{out}/{t}.parquet'")
        if t == "events":
            # DuckDB's COPY picks its own timestamp encoding; cast ts back
            # to the source column's type so the replica reads as the
            # source does
            ts = pq.read_schema(srcf).field("ts")
            tb = pq.read_table(f"{out}/{t}.parquet")
            if tb.schema.field("ts").type != ts.type:
                idx = tb.schema.get_field_index("ts")
                tb = tb.set_column(idx, ts, tb.column("ts").cast(ts.type))
                pq.write_table(tb, f"{out}/{t}.parquet")
    print(f"wrote {rep}x replica of {src} -> {out}: {', '.join(tables)}")


if __name__ == "__main__":
    main()
