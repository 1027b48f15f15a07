#!/usr/bin/env python3
"""Generate a larger synthetic SF by key-shifted replication of an
existing testdata dir (local tooling; the shipped library never uses
this).

Usage: python3 scripts/gen_scale.py <srcDir> <dstDir> <replicas>

Each fact-table replica r shifts every key column by r*10^9, so
referential integrity (orders.o_custkey -> customer.c_custkey,
lineitem.l_orderkey -> orders.o_orderkey, ...) holds within every
replica and key spaces never collide. Dimension tables (region,
nation) stay fixed, TPC-H style.

Replicas must NOT be near-duplicates of each other: exact-copy text
multiplies every dup cluster into a 5x clique, which blows up
pair/closure structures quadratically (measured: the sf0.5 oracle
sweep's transitive-closure CTEs ran 80+ CPU-minutes before being
killed, and cosine pairs went 990 -> 635k). So replica r>0 suffixes
every document word with "#r<r>" (replica shingle/word sets are
disjoint — within-replica dup structure is preserved exactly, so
dedup outputs scale by exactly 5x). The embeddings table is NOT
replicated: in 64 dimensions, cross-replica cosines concentrate at
N(0, 1/64) — ~0.8% of pairs exceed the 0.3 pair threshold by tail
alone, so ANY 5x copy scheme (tried: first-component nudge, circular
rotation, per-replica +-1 sign patterns) densifies the brute-force
pair graph ~100x and the transitive-closure oracles blow up. That is
vector geometry, not an engine property; the base table already
exercises the embedding operators, and their at-scale behavior is
covered by the IVF/LSH/PQ recall contracts whose candidate structures
are sublinear by design.

Timestamps pass through DuckDB unchanged (micros, naive) — the same
annotation the driver's current generator writes.

Output parquet is written through PYARROW, not DuckDB's COPY: the
driver's base fixtures are arrow-written (dictionary-encoded, ~18
B/row for lineitem) while DuckDB's writer emits PLAIN-encoded pages
at ~30.7 B/row. The round-11 scale sweep measured that writer gap as
a 1.4× per-row CPU artifact on every scan-bound ratio (q3_join
steady 4.3 → 3.1 CPU-s on identical code after an arrow rewrite of
one table) — the fixtures must measure the engine, not the
generator's encoder.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

# Must match graft.queries.DedupQueries.KeyShift: the engine's
# dedup_minhash_inc/ext corpus/batch classification (and its oracles)
# tests pmod(doc_id, SHIFT) to stay shift-invariant.
SHIFT = 10 ** 9
# key columns to shift per table; tables absent here are copied once
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    # embeddings deliberately absent -> copied once (see module doc)
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    src, dst, replicas = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        cols = [c[0] for c in
                con.sql(f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'")
                .fetchall()]
        missing = [k for k in KEYS.get(t, []) if k not in cols]
        assert not missing, f"{t}: key columns {missing} not in {cols}"
        if t not in KEYS:
            write_arrow(con, f"SELECT * FROM '{src}/{t}.parquet'",
                        f"{dst}/{t}.parquet")
            print(f"{t}: copied")
            continue
        parts = []
        for r in range(replicas):
            sel = []
            for c in cols:
                if c in KEYS[t]:
                    sel.append(f"{c} + {r * SHIFT} AS {c}")
                elif t == "documents" and c == "text" and r:
                    sel.append(
                        rf"regexp_replace(text, '(\S+)', '\1#r{r}', 'g')"
                        f" AS text")
                else:
                    sel.append(c)
            parts.append(f"SELECT {', '.join(sel)} FROM '{src}/{t}.parquet'")
        q = " UNION ALL ".join(parts)
        write_arrow(con, q, f"{dst}/{t}.parquet")
        n = con.sql(f"SELECT COUNT(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {replicas} replicas, {n} rows")


def write_arrow(con, query, path):
    """DuckDB computes, arrow writes — same writer family (and
    therefore the same dictionary/RLE page encodings and per-row
    density) as the driver's base fixtures (created_by
    parquet-cpp-arrow, SNAPPY, use_dictionary on). STREAMED batch by
    batch: .arrow() would materialize the whole replicated table in
    driver memory, an OOM risk for exactly the multi-GB 10x lineitem
    replicas this script exists to produce (round-12 advice)."""
    reader = con.sql(query).fetch_arrow_reader(1 << 20)
    writer = None
    try:
        for batch in reader:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema,
                                          compression="snappy",
                                          use_dictionary=True)
            writer.write_batch(batch)
        if writer is None:  # empty result: still write a valid file
            writer = pq.ParquetWriter(path, reader.schema,
                                      compression="snappy",
                                      use_dictionary=True)
    finally:
        if writer is not None:
            writer.close()


if __name__ == "__main__":
    main()
