"""Output checks of corpus_prep that run outside the JVM.

- The three embedding audits (q41, q63, q105) are compared with their
  DuckDB oracle SQL (``SparkEntry.oracleSql``, exported by the harness
  with the q105 centroids it trained), the way ``tools/check.py`` gates
  the query suite: columns sorted by name, rows sorted, exact values
  with a 1e-9 relative tolerance on floats.
- The prepared corpus has no oracle; it is checked for the properties
  the job promises: every output document is an input document with
  its text intact and appears once, no planted near-duplicate pair
  survives whole, sequences pack each source's documents back to back
  from offset 0, and a real share of the corpus survives.
"""
import json
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

SEQ_LEN = 512


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _same(got, want):
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} vs oracle {list(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows vs oracle {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            if not np.allclose(a, b, rtol=1e-9, atol=0.0, equal_nan=True):
                return False, f"column {c} differs beyond 1e-9"
        elif not (a.astype(str) == b.astype(str)).all():
            return False, f"column {c} differs"
    return True, f"{len(got)} rows match the oracle"


def audits(inputs, work, unit_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{inputs}/embeddings.parquet'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/documents.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    models = os.path.join(work, "models")
    out = []
    for q, sql in sorted(sqls.items()):
        sql = re.sub(r"'[^']*/(km_centroids_8_3\.parquet/\*\.parquet)'",
                     lambda m: f"'{models}/{m.group(1)}'", sql)
        got = _canon(pq.read_table(os.path.join(unit_dir, q)).to_pandas())
        want = _canon(con.execute(sql).df())
        ok, detail = _same(got, want)
        out.append({"name": f"corpus.{q}.oracle", "ok": ok, "detail": detail})
    con.close()
    return out


def prepared(inputs, unit_dir):
    docs = pq.read_table(f"{inputs}/documents.parquet").to_pandas().set_index("doc_id")
    got = pq.read_table(os.path.join(unit_dir, "prepared")).to_pandas()
    out = []

    def check(name, ok, detail):
        out.append({"name": f"corpus.prepared.{name}", "ok": bool(ok), "detail": detail})

    ids = got["doc_id"]
    check("docs_once", ids.is_unique, f"{len(ids)} rows, {ids.nunique()} distinct doc_ids")
    known = ids.isin(docs.index)
    same_text = known.all() and (got["text"].to_numpy() == docs.loc[ids, "text"].to_numpy()).all()
    check("text_intact", same_text, f"{int((~known).sum())} unknown doc_ids")
    kept = set(ids)
    planted = [(i - 1, i) for i in range(gen.NEAR_DUP_EVERY - 1, len(docs), gen.NEAR_DUP_EVERY)]
    whole = sum(1 for a, b in planted if a in kept and b in kept)
    check("near_dups_removed", whole == 0, f"{whole} of {len(planted)} planted pairs kept whole")
    gaps = 0
    for _, g in got.assign(start=got["seq_id"] * SEQ_LEN + got["seq_off"]).groupby("source"):
        g = g.sort_values("start")
        expect = np.concatenate([[0], np.cumsum(g["n_tok"].to_numpy())[:-1]])
        gaps += int((g["start"].to_numpy() != expect).sum())
    check("packed", gaps == 0, f"{gaps} documents off their packed offset")
    share = len(kept) / len(docs)
    check("survivors", share >= 0.1, f"{len(kept)} of {len(docs)} documents survive ({share:.2f})")
    return out


def corpus(inputs, rec, work):
    unit_dir = rec["info"]["last_unit_dir"]
    return audits(inputs, work, unit_dir) + prepared(inputs, unit_dir)
