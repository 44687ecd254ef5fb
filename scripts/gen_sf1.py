"""Generate an sf1 testdata replica (10x sf0.1) for magnitude-class
parity testing.

Round 5's two cross-engine bugs (the round(6) half-boundary tie in
linear_quality_classifier, the DECIMAL int64 product overflow in
xcorr_best_lag) were invisible at sf0.01 and only surfaced at sf0.1:
the bug class scales with MAGNITUDE, not logic. /root/testdata stops
at sf0.1, so this script synthesizes the next decade locally - a 10x
key-shifted replica of sf0.1, NOT a driver-identical distribution:

* every table is sf0.1 stacked 10 times with per-replica key offsets
  (FK-consistent: a replica's orders reference the same replica's
  customers, lineitems its orders/parts/suppliers);
* value domains, string formats, date/timestamp windows, null
  patterns, text token distributions, and embedding vectors are all
  preserved verbatim, so every catalog literal (calendar splits,
  price thresholds, query terms) still binds;
* documents get a per-replica LETTER suffix token appended ("repla".."repli" - letter-only, because the tokenizer twins legitimately disagree on mixed-alphanumeric tokens the real corpus never contains) (and n_chars
  recomputed) so the exact/near-dup cluster structure of each replica
  is preserved without creating 10x-sized cross-replica clusters
  whose pair counts would grow quadratically;
* replica 0 is byte-identical to sf0.1; identical prices/timestamps
  across replicas deliberately create cross-replica TIES, stressing
  every ordering's tie-break determinism at 10x magnitude.

Fixed dimensions (region, nation) keep their 5/25 rows.

Output: /root/repo/testdata_sf1/*.parquet (git-ignored, ~170 MB).
Usage: python scripts/gen_sf1.py [--src=/root/testdata/sf0.1]
                                 [--out=/root/repo/testdata_sf1]
"""

import pathlib
import sys
import tempfile

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = "/root/repo/testdata_sf1"
REPLICAS = 10
for a in sys.argv[1:]:
    if a.startswith("--src="):
        SRC = a.split("=", 1)[1]
    if a.startswith("--out="):
        OUT = a.split("=", 1)[1]


def main() -> None:
    out = pathlib.Path(OUT)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    # spill to a private temp dir, not ./.tmp of the working directory
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_spill_')}'")
    for t in (
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
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")

    # Key offsets = keyspace WIDTH (max - min + 1), so replica r's
    # keys [min + r*off, max + r*off] never collide with any other
    # replica's - works for the 1-based TPC-H keys and the 0-based
    # doc/vec/event ids alike (a bare MAX offset overlaps 0-based
    # keyspaces at every replica boundary).
    off = {}
    for t, k in (
        ("customer", "c_custkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("orders", "o_orderkey"),
        ("events", "event_id"),
        ("events", "user_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ):
        lo, hi = con.execute(f"SELECT MIN({k}), MAX({k}) FROM {t}").fetchone()
        off[k] = hi - lo + 1

    rep = f"(SELECT UNNEST(range({REPLICAS})) AS r) reps"

    def write(name: str, sql: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT COUNT(*) FROM '{out}/{name}.parquet'"
        ).fetchone()[0]
        print(f"{name}: {n} rows")

    write("region", "SELECT * FROM region")
    write("nation", "SELECT * FROM nation")
    write(
        "customer",
        f"""SELECT c_custkey + r * {off['c_custkey']} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer CROSS JOIN {rep}""",
    )
    write(
        "supplier",
        f"""SELECT s_suppkey + r * {off['s_suppkey']} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
            FROM supplier CROSS JOIN {rep}""",
    )
    write(
        "part",
        f"""SELECT p_partkey + r * {off['p_partkey']} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM part CROSS JOIN {rep}""",
    )
    write(
        "orders",
        f"""SELECT o_orderkey + r * {off['o_orderkey']} AS o_orderkey,
                   o_custkey + r * {off['c_custkey']} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM orders CROSS JOIN {rep}""",
    )
    write(
        "lineitem",
        f"""SELECT l_orderkey + r * {off['o_orderkey']} AS l_orderkey,
                   l_partkey + r * {off['p_partkey']} AS l_partkey,
                   l_suppkey + r * {off['s_suppkey']} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM lineitem CROSS JOIN {rep}""",
    )
    write(
        "events",
        f"""SELECT event_id + r * {off['event_id']} AS event_id,
                   ts,
                   user_id + r * {off['user_id']} AS user_id,
                   event_type, value, props
            FROM events CROSS JOIN {rep}""",
    )
    write(
        "documents",
        f"""SELECT doc_id + r * {off['doc_id']} AS doc_id,
                   CASE WHEN r = 0 THEN text
                        ELSE text || ' repl' || chr(CAST(96 + r AS INTEGER)) END AS text,
                   lang, source,
                   CASE WHEN r = 0 THEN n_chars
                        ELSE length(text || ' repl' || chr(CAST(96 + r AS INTEGER)))
                   END AS n_chars
            FROM documents CROSS JOIN {rep}""",
    )
    write(
        "embeddings",
        f"""SELECT vec_id + r * {off['vec_id']} AS vec_id,
                   embedding, label
            FROM embeddings CROSS JOIN {rep}""",
    )


if __name__ == "__main__":
    main()
