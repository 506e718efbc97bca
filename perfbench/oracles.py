"""DuckDB reference digests for a workload's queries on one data dir.

Run by run.py as its own process under a memory cap, before any timing:
the oracles are kept out of the measured process (run inside it, they push
its memory far past the Spark client's own). Prints nothing on success;
writes ``{query: {"cols": [...], "digest": "..."}}`` to the output path.

Usage: python perfbench/oracles.py ROOT SF_DIR OUT.json QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import os
import sys

#: DuckDB limits inside the capped process
DUCK_MEMORY = "1GB"
DUCK_TEMP_MAX = "2GB"


def oracle_sql(name: str, query, con) -> str:
    """The registered oracle, with one scale correction:
    ``vec_knn_index_kmeans_auto`` sizes its cell count from the corpus
    (``auto_nlist(n)``), but its registered oracle pins the k that holds at
    the smallest test scale. The same SQL with k = auto_nlist(n) is the
    oracle at any scale."""
    sql = query.oracle
    if name == "vec_knn_index_kmeans_auto":
        from nocouncil_etl_spark.operators.kmeans_index import auto_nlist
        from nocouncil_etl_spark.plans import clustering as c

        n = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        pinned = c.kmeans_cte("eq", c.KC_AUTO_AT_ORACLE_SF, c.KC_ITERS)
        if pinned not in sql:
            raise RuntimeError("vec_knn_index_kmeans_auto oracle no longer has the pinned k-means block")
        sql = sql.replace(pinned, c.kmeans_cte("eq", auto_nlist(n), c.KC_ITERS))
    return sql


def digests(con, registry, sf_dir: str, names: list[str]) -> dict[str, dict]:
    """``{query: {"cols", "digest"}}`` of each named query's oracle, run on
    ``con`` over views of the tables in ``sf_dir``."""
    from oracle_check import digest

    from nocouncil_etl_spark.io import TABLES

    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    result = {}
    for name in names:
        res = con.execute(oracle_sql(name, registry[name], con))
        cols, dig = digest([d[0] for d in res.description], res.fetchall())
        result[name] = {"cols": cols, "digest": dig}
    return result


def main() -> int:
    root, sf_dir, out, *names = sys.argv[1:]
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "scripts"))
    import duckdb

    from nocouncil_etl_spark.registry import load_all

    registry = load_all()
    tmp = os.path.join(os.path.dirname(os.path.abspath(out)), "duck-tmp")
    con = duckdb.connect(
        config={
            "memory_limit": DUCK_MEMORY,
            "threads": "2",
            "temp_directory": tmp,
            "max_temp_directory_size": DUCK_TEMP_MAX,
        }
    )
    with open(out + ".tmp", "w") as fh:
        json.dump(digests(con, registry, sf_dir, names), fh)
    os.replace(out + ".tmp", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
