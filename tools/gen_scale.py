"""Scale out a testdata SF directory by integer replication with key
remapping: ``python tools/gen_scale.py SRC_DIR DEST_DIR [MULTIPLIER]``
(default multiplier 10, so sf0.1 -> sf1).

Replica r of every fact row shifts each entity key by ``r * (max_key
+ 1)`` — joins stay replica-local (cardinality and per-key fan-out
match the source exactly, so a query's work grows linearly with the
multiplier), dims (region/nation) stay fixed, and replica 0 is the
untouched source so the scaled corpus strictly contains the original.

Text and embeddings are made replica-distinct (every word carries a
replica suffix; one embedding coordinate gets a replica offset):
naive replication would create cross-replica duplicate groups of
size M, turning every near-dup/pair operator quadratic in M and
poisoning the linear-scaling measurement this corpus exists for.
Planted duplicate/near-dup structure WITHIN a replica is preserved
bit-for-bit by construction (the same transform applies to both
members of a pair).

DuckDB does the heavy lifting (single-process, no Spark session);
~200 MB for sf1, a few seconds per table.
"""

from __future__ import annotations

import os
import sys

import duckdb

TABLES_COPY = ["region", "nation"]


def _max_key(con, path: str, col: str) -> int:
    return con.sql(f"SELECT MAX({col}) FROM '{path}'").fetchone()[0]


def generate(src: str, dest: str, m: int = 10) -> None:
    os.makedirs(dest, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count() or 8}")

    def copy(sql: str, table: str) -> None:
        out = f"{dest}/{table}.parquet"
        con.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        n = con.sql(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
        print(f"{table}: {n} rows")

    p = {t: f"{src}/{t}.parquet" for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )}
    off = {
        "cust": _max_key(con, p["customer"], "c_custkey") + 1,
        "supp": _max_key(con, p["supplier"], "s_suppkey") + 1,
        "part": _max_key(con, p["part"], "p_partkey") + 1,
        "order": _max_key(con, p["orders"], "o_orderkey") + 1,
        "event": _max_key(con, p["events"], "event_id") + 1,
        "user": _max_key(con, p["events"], "user_id") + 1,
        "doc": _max_key(con, p["documents"], "doc_id") + 1,
        "vec": _max_key(con, p["embeddings"], "vec_id") + 1,
    }
    rep = f"(SELECT UNNEST(RANGE({m})) AS r)"

    for t in TABLES_COPY:
        copy(f"SELECT * FROM '{p[t]}'", t)

    copy(
        f"""SELECT c_custkey + r * {off['cust']} AS c_custkey,
                  c_name, c_nationkey, c_acctbal, c_mktsegment
           FROM '{p['customer']}' CROSS JOIN {rep}""",
        "customer",
    )
    copy(
        f"""SELECT s_suppkey + r * {off['supp']} AS s_suppkey,
                  s_name, s_nationkey, s_acctbal
           FROM '{p['supplier']}' CROSS JOIN {rep}""",
        "supplier",
    )
    copy(
        f"""SELECT p_partkey + r * {off['part']} AS p_partkey,
                  p_name, p_brand, p_type, p_size, p_retailprice
           FROM '{p['part']}' CROSS JOIN {rep}""",
        "part",
    )
    copy(
        f"""SELECT o_orderkey + r * {off['order']} AS o_orderkey,
                  o_custkey + r * {off['cust']} AS o_custkey,
                  o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           FROM '{p['orders']}' CROSS JOIN {rep}""",
        "orders",
    )
    copy(
        f"""SELECT l_orderkey + r * {off['order']} AS l_orderkey,
                  l_partkey + r * {off['part']} AS l_partkey,
                  l_suppkey + r * {off['supp']} AS l_suppkey,
                  l_linenumber, l_quantity, l_extendedprice, l_discount,
                  l_tax, l_returnflag, l_linestatus, l_shipdate
           FROM '{p['lineitem']}' CROSS JOIN {rep}""",
        "lineitem",
    )
    copy(
        f"""SELECT event_id + r * {off['event']} AS event_id, ts,
                  user_id + r * {off['user']} AS user_id,
                  event_type, value, props
           FROM '{p['events']}' CROSS JOIN {rep}""",
        "events",
    )
    # replica-suffix every word so replicas share no shingles; within a
    # replica the transform is a bijection on words, so planted
    # duplicate/near-dup pairs keep their exact overlap structure
    copy(
        f"""SELECT doc_id + r * {off['doc']} AS doc_id,
                  CASE WHEN r = 0 THEN text ELSE array_to_string(
                      list_transform(string_split(text, ' '),
                                     w -> w || 'q' || CAST(r AS VARCHAR)),
                      ' ') END AS text,
                  lang, source,
                  CASE WHEN r = 0 THEN n_chars ELSE CAST(LENGTH(
                      array_to_string(
                          list_transform(string_split(text, ' '),
                                         w -> w || 'q' || CAST(r AS VARCHAR)),
                          ' ')) AS BIGINT) END AS n_chars
           FROM '{p['documents']}' CROSS JOIN {rep}""",
        "documents",
    )
    # circular-rotate each replica's vectors by r positions: a rigid
    # orthogonal transform, so EVERY intra-replica pairwise cosine
    # (planted neighbors, cluster structure) is preserved exactly,
    # while cross-replica similarity collapses to the vectors'
    # autocorrelation at lag r (~0 for these embeddings). A scalar
    # coordinate offset is NOT enough: against a 64-dim vector it
    # leaves replicas at cosine ~0.99, manufacturing cross-replica
    # near-dup cliques that turn pair operators quadratic in the
    # multiplier (measured: an embedding near-dup join x28 at m=10
    # before this fix).
    dim = con.sql(
        f"SELECT MAX(len(embedding)) FROM '{p['embeddings']}'"
    ).fetchone()[0]
    copy(
        f"""SELECT vec_id + r * {off['vec']} AS vec_id,
                  CASE WHEN r = 0 THEN embedding ELSE
                      embedding[(r % {dim}) + 1:{dim}]
                      || embedding[1:(r % {dim})] END AS embedding,
                  label
           FROM '{p['embeddings']}' CROSS JOIN {rep}""",
        "embeddings",
    )
    con.close()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit("usage: gen_scale.py SRC_DIR DEST_DIR [MULTIPLIER]")
    generate(
        sys.argv[1], sys.argv[2],
        int(sys.argv[3]) if len(sys.argv) > 3 else 10,
    )
