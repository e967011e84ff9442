"""Output checks and quality metrics. The checks run while the harness
warms up, so they stay outside the timed region.

- Each pipeline stage's output (written by the harness's warm-up session,
  projected as its registered query projects it) must equal its DuckDB
  oracle from SparkEntry.oracleSql on the generated events, compared as
  tools/check.py does: columns sorted by name, rows sorted, cells strictly
  equal (a float never equals an int). Each oracle CTE is computed into a
  temp table first (same results; the inlined CTE chain made the q23
  oracle about twice as slow).
- Each serve batch's ModelStore.loadAndScore output must equal an
  independent DuckDB scoring against the persisted bank and threshold.
- detect_auroc: AUROC of the q23 window scores against the injected ground
  truth (a window is anomalous when q05 marks any of its points).
- forecast_mae_cleaned: the n-weighted MAE of q38's `cleaned` variant.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got, want):
    """None when equal, else a description of the first difference."""
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        fa, fb = a.dtype.kind == "f", b.dtype.kind == "f"
        if fa != fb:
            return f"col {c}: dtype {a.dtype} != {b.dtype}"
        if fa:
            ok = ((a == b) & (np.signbit(a) == np.signbit(b))) | (np.isnan(a) & np.isnan(b))
        else:
            ok = a.astype(str) == b.astype(str)
        if not ok.all():
            i = int(np.argmin(ok))
            return f"row {i} col {c}: spark={a[i]!r} oracle={b[i]!r}"
    return None


def connect(threads):
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET threads={int(threads)}")
    return con


def split_ctes(sql):
    """Split `WITH a AS (...), b AS MATERIALIZED (...) SELECT ...` into
    ([(name, body), ...], final_select)."""
    i, n = 0, len(sql)

    def skip_ws(i):
        while i < n:
            if sql[i].isspace():
                i += 1
            elif sql.startswith("--", i):
                i = sql.find("\n", i)
                i = n if i < 0 else i
            else:
                return i
        return i

    def word(i):
        j = i
        while j < n and (sql[j].isalnum() or sql[j] == "_"):
            j += 1
        return sql[i:j], j

    i = skip_ws(0)
    kw, i = word(i)
    if kw.upper() != "WITH":
        return [], sql
    ctes = []
    while True:
        name, i = word(skip_ws(i))
        kw, i = word(skip_ws(i))
        assert kw.upper() == "AS", (name, kw)
        i = skip_ws(i)
        if sql[i] != "(":
            kw, i = word(i)
            i = skip_ws(i)
        assert sql[i] == "(", name
        depth, j, quote = 0, i, False
        while True:
            c = sql[j]
            if quote:
                quote = c != "'"
            elif c == "'":
                quote = True
            elif sql.startswith("--", j):
                j = sql.find("\n", j)
                continue
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        ctes.append((name, sql[i + 1:j]))
        i = skip_ws(j + 1)
        if sql[i] != ",":
            return ctes, sql[i:]
        i += 1


class Oracle:
    """Runs oracle SQL with every CTE computed once into a temp table, so
    the (test x bank) scans read tables instead of re-planned CTE chains,
    and CTEs shared by several oracles (the common prefix) are reused."""

    def __init__(self, con):
        self.con = con
        self.made = {}

    def run(self, sql):
        ctes, final = split_ctes(sql)
        for name, body in ctes:
            if self.made.get(name) != body:
                self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS {body}")
                self.made[name] = body
        return self.con.execute(final).fetchdf()


def run_oracles(con, sql_path, corpus_dir):
    """Run every oracle in `sql_path` on the corpus; returns {key: frame}."""
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                f"read_parquet('{corpus_dir}/events.parquet')")
    with open(sql_path) as f:
        sqls = json.load(f)
    run = Oracle(con).run
    return {key: run(sql) for key, sql in sorted(sqls.items())}


def r4(x):
    """graft's Num.r4 quantization, floor(x * 1e4 + 0.5) / 1e4, in the same
    IEEE double operations."""
    return np.floor(x * 10000.0 + 0.5) / 10000.0


FEATS = [f"f{i}" for i in range(9)]
# The harness writes each stage function's own output; these registered
# queries project it further (graft.timeseries.TsQueries).
QUERY_PROJECTION = {
    "q02_fill_forward": (["series", "t", "v_filled", "src"], ["v_filled"]),
    "q08_patchify": (["series", "win", "pos"] + FEATS, FEATS),
}


def check_pipeline(check_dir, wants):
    """Compare every stage output with its oracle; returns failure lines."""
    fails = []
    for key, want in sorted(wants.items()):
        got = pd.read_parquet(os.path.join(check_dir, key))
        if key in QUERY_PROJECTION:
            cols, rounded = QUERY_PROJECTION[key]
            got = got[cols].copy()
            for c in rounded:
                got[c] = r4(got[c])
        bad = mismatch(got, want)
        if bad:
            fails.append(f"{key}: {bad}")
    return fails


DIST2 = " + ".join(f"(p.{f} - b.{f}) * (p.{f} - b.{f})" for f in FEATS)


def check_serve(con, check_dir, model_dir, batch_dirs):
    """Re-score every batch in DuckDB: nearest kept-bank patch (smallest
    squared distance, ties to the smallest bank (id, pos)), distance times
    its weight, max per window, flagged above the saved threshold."""
    fails = []
    thr = f"(SELECT threshold FROM read_parquet('{model_dir}/threshold/*.parquet'))"
    con.execute(f"CREATE OR REPLACE TEMP TABLE sbank AS "
                f"SELECT * FROM read_parquet('{model_dir}/bank/*.parquet')")
    for i, bdir in enumerate(batch_dirs):
        con.execute(f"CREATE OR REPLACE TEMP TABLE sbatch AS "
                    f"SELECT * FROM read_parquet('{bdir}/*.parquet')")
        sql = f"""
WITH near0 AS (
  SELECT p.series, p.win, p.pos, min({DIST2}) AS md FROM sbatch p, sbank b
  GROUP BY p.series, p.win, p.pos
), near AS (
  SELECT p.series, p.win, p.pos, min({{'id': b.id, 'pos': b.pos, 'wgt': b.wgt}}) AS m,
         any_value(n.md) AS md
  FROM sbatch p JOIN near0 n ON p.series = n.series AND p.win = n.win AND p.pos = n.pos
  CROSS JOIN sbank b WHERE {DIST2} = n.md
  GROUP BY p.series, p.win, p.pos
), ws AS (SELECT series, win, max(sqrt(md) * m.wgt) AS score FROM near GROUP BY series, win)
SELECT series, win, floor(score * 10000 + 0.5) / 10000 AS score,
       CASE WHEN score > {thr} THEN 1 ELSE 0 END AS pred
FROM ws"""
        got = pd.read_parquet(os.path.join(check_dir, "serve", f"b{i}"))
        bad = mismatch(got, con.execute(sql).fetchdf())
        if bad:
            fails.append(f"serve batch b{i}: {bad}")
    return fails


def auroc(labels, scores):
    """Mann-Whitney AUROC with average ranks for ties."""
    labels = np.asarray(labels, dtype=bool)
    ranks = pd.Series(scores).rank(method="average").to_numpy()
    npos, nneg = labels.sum(), (~labels).sum()
    if npos == 0 or nneg == 0:
        return float("nan")
    return float((ranks[labels].sum() - npos * (npos + 1) / 2) / (npos * nneg))


def quality(check_dir):
    scores = pd.read_parquet(os.path.join(check_dir, "q23_detect_pipeline"))
    inj = pd.read_parquet(os.path.join(check_dir, "q05_anomaly_inject"))
    truth = inj.groupby(["series", "win"], as_index=False)["is_anom"].max()
    m = scores.merge(truth, on=["series", "win"], how="left")
    impact = pd.read_parquet(os.path.join(check_dir, "q38_cleaning_impact"))
    cl = impact[impact["variant"] == "cleaned"]
    return {
        "detect_auroc": auroc(m["is_anom"].fillna(0) > 0, m["score"]),
        "forecast_mae_cleaned": float((cl["mae"] * cl["n"]).sum() / cl["n"].sum()),
    }


def batch_dirs(work):
    return sorted(glob.glob(os.path.join(work, "batches", "b*")),
                  key=lambda p: int(os.path.basename(p)[1:]))
