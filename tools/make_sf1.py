#!/usr/bin/env python3
"""Synthesize an sf1-equivalent scale point from the sf0.1 fixture.

The driver ships sf0.001/0.01/0.1 only, and /root/testdata is
read-only, so the 10x point for the round-7 scale campaign
(SCALE_POINT_r7.json) is derived: REPLICATE sf0.1 ten times with
disjoint key ranges — weak scaling, the same shape TPC-H itself has
(orders, parts, customers all grow linearly, graph density stays
constant; a key-preserving replication would instead densify the
co-purchase graph quadratically and measure the data, not the engine).

Only the tables the iterative family reads are scaled:
  lineitem  — l_orderkey/l_partkey/l_suppkey shifted per replica
  orders    — o_orderkey/o_custkey shifted per replica
  documents — doc_id shifted; text CAESAR-SHIFTED per replica
              (letters rotated by the replica index) so replicas are
              not near-duplicates of each other: an exact copy with a
              new doc_id IS a real near-dup, and q83's components
              would grow 10x denser — quadratic LSH-bucket pairs —
              measuring an artifact of the replication, not scaling.
              Rotation keeps lengths (n_chars) and intra-replica
              duplicate structure bit-identical.

Usage: python3 tools/make_sf1.py [outdir] [replicas] [embeddings_only]
       (defaults /tmp/graft-sf1, 10; replicas=20 builds the sf2 point
       for the round-8 scaling-exponent campaign)

Replica cap: 26. The per-replica Caesar rotation has only 26 distinct
permutations — replica 26 would be byte-identical text to replica 0
under new doc_ids, i.e. a planted corpus-wide near-dup layer that
densifies q83/q70 quadratically and measures the replication artifact,
not the engine.

embeddings_only mode (r12, for the hot-cluster sf4 point,
SCALE_POINT_r12 §B): pass a third
arg `embeddings_only` to write just embeddings.parquet. The embedding
transform family is a 64-position circular shift composed with an
optional global negation (r13, for the sf8 point) — 128 distinct
orthogonal transforms, each norm- and intra-replica-geometry-
preserving while cross-replica cosines scramble — so this mode allows
up to 128 replicas (the hot-cluster chain reads only the embeddings
table; the 26-replica text cap does not apply). Negation is as artifact-free as
rotation: no replica pair is byte-identical, and cos(-x, y) = -cos(x,
y) keeps cross-replica similarities as scrambled as the rotation
already left them.
"""
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft-sf1"
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 10
EMB_ONLY = len(sys.argv) > 3 and sys.argv[3] == "embeddings_only"
if EMB_ONLY:
    assert 1 <= REPLICAS <= 1024, \
        "embedding rotation x negation x reversal x pairswap x " \
        "altneg supports at most 1024 replicas"
else:
    assert 1 <= REPLICAS <= 26, "text rotation supports at most 26 replicas"
ORD_OFF, PART_OFF, SUPP_OFF, CUST_OFF, DOC_OFF = (
    150000, 20000, 1000, 15000, 5000)

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()


def rot(s: str, i: int) -> str:
    return s[i:] + s[:i]


def emb_only(con) -> None:
    # transform i = rotation by (i mod 64), composed with reversal for
    # (i // 128) odd, negation for (i // 64) odd, ADJACENT-PAIR SWAP
    # for (i // 256) odd, and ALTERNATING-POSITION NEGATION for
    # (i // 512) odd — the dihedral group D64 (rotations +
    # reflections, 128 distinct permutations) crossed with global
    # negation, the pair-swap involution, and the alt-neg involution
    # = 1024 distinct orthogonal transforms (r15: pair swap for the
    # sf32 point, alt-neg headroom for the r16 sf64 point; r14 capped
    # at the D64 x negation 256). Pair swap ((0 1)(2 3)... on the
    # 0-based positions) is NOT in D64: a rotation is a constant
    # shift and a reflection is i -> s - i for one fixed s, while
    # pair swap needs s = 2i + 1 to vary with i — so composing it
    # doubles the family rather than aliasing it. Alt-neg (negate
    # every other component, applied INNERMOST) doubles it again:
    # every composition of the other four generators carries a
    # UNIFORM sign pattern (the permutations are unsigned and global
    # negation flips all signs together), so a mixed-sign transform
    # can never alias one — T1∘altneg = T2 would need altneg =
    # T1⁻¹∘T2, uniform-signed. All five are norm- and
    # intra-replica-geometry-preserving (signed permutations), no
    # replica pair byte-identical (asserted below), cross-replica
    # cosines scrambled. The REPLICAS <= 1024 assert above is the
    # real guard: replica 1024 would repeat transform 0 and plant
    # byte-identical embedding copies, the exact artifact the cap
    # exists to prevent (ADVICE r12: the guard is the assert, never a
    # silent wrap).
    def emb_expr(i: int) -> str:
        base = "embedding"
        if (i // 512) % 2 == 1:
            base = (f"list_transform(range(1, 65), j -> "
                    f"CASE WHEN j % 2 = 1 THEN ({base})[j] "
                    f"ELSE -(({base})[j]) END)")
        if (i // 256) % 2 == 1:
            base = (f"list_transform(range(1, 65), j -> ({base})["
                    "j + CASE WHEN j % 2 = 1 THEN 1 ELSE -1 END])")
        rot = i % 64
        e = (f"list_slice({base}, {rot + 1}, 64)"
             f" || list_slice({base}, 1, {rot})")
        if (i // 128) % 2 == 1:
            e = f"list_reverse({e})"
        if (i // 64) % 2 == 1:
            e = f"list_transform({e}, x -> -x)"
        return e
    emb_selects = " UNION ALL ".join(
        f"""SELECT vec_id + {i} * 2000 AS vec_id,
               {emb_expr(i)} AS embedding,
               label
            FROM '{SRC}/embeddings.parquet'""" for i in range(REPLICAS))
    con.execute(
        f"COPY ({emb_selects}) TO '{OUT}/embeddings.parquet' "
        "(FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{OUT}/embeddings.parquet'").fetchone()[0]
    # distinctness audit: every replica of a sample source vector must
    # be a DISTINCT byte pattern (a generic vector has trivial
    # stabilizer under signed permutations; an aliasing bug in the
    # transform family would collapse two replicas to identical bytes
    # — the exact planted-near-dup artifact the family exists to
    # avoid). Checked on three sample ids, not just one, in case a
    # single embedding happens to be symmetric.
    for sid in (7, 131, 997):
        tot, dis = con.execute(
            f"SELECT count(*), count(DISTINCT embedding::VARCHAR) "
            f"FROM '{OUT}/embeddings.parquet' "
            f"WHERE vec_id % 2000 = {sid}").fetchone()
        assert tot == dis == REPLICAS, \
            f"transform aliasing at source id {sid}: {dis}/{tot} distinct"
    print(f"[make_sf1] embeddings (only): {n} rows -> {OUT} "
          f"({REPLICAS} replicas, distinctness audited)")


def main() -> None:
    import os
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    if EMB_ONLY:
        emb_only(con)
        return

    def replicate(table: str, select_i: str) -> None:
        parts = " UNION ALL ".join(
            select_i.format(i=i) for i in range(REPLICAS))
        con.execute(
            f"COPY ({parts}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM '{OUT}/{table}.parquet'").fetchone()[0]
        print(f"[make_sf1] {table}: {n} rows")

    replicate("lineitem", f"""
        SELECT l_orderkey + {{i}} * {ORD_OFF} AS l_orderkey,
               l_partkey + {{i}} * {PART_OFF} AS l_partkey,
               l_suppkey + {{i}} * {SUPP_OFF} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet'""")
    replicate("orders", f"""
        SELECT o_orderkey + {{i}} * {ORD_OFF} AS o_orderkey,
               o_custkey + {{i}} * {CUST_OFF} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet'""")
    # r8: the SF-proportional dimensions, key-shifted in lockstep with the
    # fact FKs above, so the de-broadcast campaign (q247/q251/q129/q258 —
    # joins against part/customer/supplier) measures with intact FK
    # containment at the 10x point. Same weak scaling: each replica's
    # facts reference exactly its replica's dim rows.
    replicate("customer", f"""
        SELECT c_custkey + {{i}} * {CUST_OFF} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM '{SRC}/customer.parquet'""")
    replicate("supplier", f"""
        SELECT s_suppkey + {{i}} * {SUPP_OFF} AS s_suppkey,
               s_name, s_nationkey, s_acctbal
        FROM '{SRC}/supplier.parquet'""")
    replicate("part", f"""
        SELECT p_partkey + {{i}} * {PART_OFF} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM '{SRC}/part.parquet'""")
    # nation/region are TRUE bounded dimensions — copied, not replicated
    for dim in ("nation", "region"):
        con.execute(f"COPY (SELECT * FROM '{SRC}/{dim}.parquet') "
                    f"TO '{OUT}/{dim}.parquet' (FORMAT PARQUET)")
        print(f"[make_sf1] {dim}: copied unscaled")
    # embeddings: vec_id shifted; components CIRCULARLY ROTATED by the
    # replica index — norm- and intra-replica-geometry-preserving, but
    # cross-replica cosines scramble, so exact copies do not flood the
    # ANN/near-dup candidate generators with replication artifacts.
    emb_selects = " UNION ALL ".join(
        f"""SELECT vec_id + {i} * 2000 AS vec_id,
               list_slice(embedding, {i + 1}, 64)
                 || list_slice(embedding, 1, {i}) AS embedding,
               label
            FROM '{SRC}/embeddings.parquet'""" for i in range(REPLICAS))
    con.execute(
        f"COPY ({emb_selects}) TO '{OUT}/embeddings.parquet' "
        "(FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{OUT}/embeddings.parquet'").fetchone()[0]
    print(f"[make_sf1] embeddings: {n} rows")
    doc_selects = " UNION ALL ".join(
        f"""SELECT doc_id + {i} * {DOC_OFF} AS doc_id,
               translate(text, '{LOWER}{UPPER}',
                         '{rot(LOWER, i)}{rot(UPPER, i)}') AS text,
               lang, source, n_chars
            FROM '{SRC}/documents.parquet'""" for i in range(REPLICAS))
    con.execute(
        f"COPY ({doc_selects}) TO '{OUT}/documents.parquet' "
        "(FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{OUT}/documents.parquet'").fetchone()[0]
    print(f"[make_sf1] documents: {n} rows")
    print(f"[make_sf1] wrote {OUT}")


if __name__ == "__main__":
    main()
