#!/usr/bin/env python3
"""Write the table profile that `corpora.write_ops_tables` generates from.

    python3 perfbench/profile_sf.py <sf_dir> [out.json]

`<sf_dir>` is a directory of the registry's test tables (see TESTDATA.md;
the profile in this directory was taken from the sf0.1 tables).  The
profile keeps what the four benchmarked registry queries are sensitive to:
the documents' token frequencies, length histogram, language mix and
near-duplicate rate; the embeddings' size and near-duplicate count; and
lineitem's row count, key ranges and value sets.  Every column of these
tables was found to be drawn independently per row, so marginals suffice.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import numpy as np
import pyarrow.parquet as pq

DUP_MARKER = "dup"


def profile(sf_dir: str) -> dict:
    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def rows(sql: str) -> list[tuple]:
        return con.execute(sql).fetchall()

    # a near-duplicate doc is a copy of another doc with " dup" appended
    base = f"NOT list_contains(string_split(text, ' '), '{DUP_MARKER}')"
    docs = {
        "rows": rows("SELECT count(*) FROM documents")[0][0],
        "dup_marker": DUP_MARKER,
        "near_dup_rows": rows(f"SELECT count(*) FROM documents WHERE NOT ({base})")[0][0],
        "token_counts": dict(rows(
            f"SELECT t, count(*) FROM (SELECT unnest(string_split(text, ' ')) t FROM documents WHERE {base}) "
            "GROUP BY t ORDER BY t"
        )),
        "length_counts": {str(n): c for n, c in rows(
            f"SELECT len(string_split(text, ' ')) n, count(*) FROM documents WHERE {base} GROUP BY n ORDER BY n"
        )},
        "lang_counts": dict(rows("SELECT lang, count(*) FROM documents GROUP BY lang ORDER BY lang")),
        "sources": rows("SELECT count(DISTINCT source) FROM documents")[0][0],
    }
    emb = np.array(pq.read_table(f"{sf_dir}/embeddings.parquet")["embedding"].to_pylist(), dtype=np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    sim = np.triu(unit @ unit.T, k=1)
    embeddings = {
        "rows": len(emb),
        "dim": emb.shape[1],
        "labels": rows("SELECT count(DISTINCT label) FROM embeddings")[0][0],
        "pairs_cos_ge_0.9": int((sim >= 0.9).sum()),
    }
    lo_hi = rows(
        "SELECT count(*), min(l_orderkey), max(l_orderkey), min(l_partkey), max(l_partkey), "
        "min(l_suppkey), max(l_suppkey), min(l_linenumber), max(l_linenumber), min(l_quantity), max(l_quantity), "
        "min(l_extendedprice), max(l_extendedprice), CAST(min(l_shipdate) AS DATE), CAST(max(l_shipdate) AS DATE) "
        "FROM lineitem"
    )[0]
    lineitem = {
        "rows": lo_hi[0],
        "l_orderkey": lo_hi[1:3],
        "l_partkey": lo_hi[3:5],
        "l_suppkey": lo_hi[5:7],
        "l_linenumber": lo_hi[7:9],
        "l_quantity": lo_hi[9:11],
        "l_extendedprice": lo_hi[11:13],
        "l_shipdate": [str(d) for d in lo_hi[13:15]],
        "l_discount": [v for (v,) in rows("SELECT DISTINCT l_discount FROM lineitem ORDER BY 1")],
        "l_tax": [v for (v,) in rows("SELECT DISTINCT l_tax FROM lineitem ORDER BY 1")],
        "l_returnflag": [v for (v,) in rows("SELECT DISTINCT l_returnflag FROM lineitem ORDER BY 1")],
        "l_linestatus": [v for (v,) in rows("SELECT DISTINCT l_linestatus FROM lineitem ORDER BY 1")],
    }
    return {"source": os.path.basename(os.path.normpath(sf_dir)), "documents": docs, "embeddings": embeddings,
            "lineitem": lineitem}


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    out = sys.argv[2] if len(sys.argv) == 3 else os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf_profile.json")
    with open(out, "w") as fh:
        json.dump(profile(sys.argv[1]), fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
