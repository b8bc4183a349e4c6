"""Output checks, run after the measured process has exited.

Every value the program returned is recomputed independently: lake
statistics, rule metrics, snapshot contents, drift and PSI with DuckDB
over the same Parquet inputs; declared queries with their DuckDB oracle
from ``queries.oracles()``; nearest neighbours by brute force in NumPy. Each check yields the calls whose output is wrong, keyed by
(pass, call index); the runner adds them to the failed count.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from schedule import HISTOGRAMS, MONITOR_QUERY, RULES, STAGE_QUERIES

# Mean recall@10 of a run's search batches against exact search. The
# index is built the program's default way, with centroids and 8x16 PQ
# codebooks seeded from the first vectors rather than trained, which
# lands near 0.2 on the generated clusters; a ranking that ignored the
# index would land near 10/1000.
RECALL_FLOOR = 0.1
PSI_EPS = 1e-6


def _call_index(calls: list[dict], layer: str, nth: int = 0) -> int:
    return [i for i, c in enumerate(calls) if c["layer"] == layer][nth]


# ---------------------------------------------------------------------------
# declared queries
# ---------------------------------------------------------------------------

def oracle_rows(folder: str, name: str) -> pd.DataFrame:
    """The declared query's DuckDB oracle over the tables in ``folder``."""
    from overpaint_spark.queries import oracles

    con = duckdb.connect()
    for fname in sorted(os.listdir(folder)):
        con.execute(f"CREATE VIEW {fname.rsplit('.', 1)[0]} AS "
                    f"SELECT * FROM read_parquet('{folder}/{fname}')")
    return con.sql(oracles()[name]).df()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def rows_differ(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Exact equality as a multiset of rows; floats must match bit for
    bit and NaN matches NaN."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return f"{len(got)} rows {sorted(got.columns)} != {len(want)} rows {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(w[c]):
            a, b = a.astype(float), b.astype(float)
            same = (a == b) | (np.isnan(a) & np.isnan(b))
        else:
            same = a == b
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return f"column {c}: {int((~same).sum())} values differ, e.g. {a[i]!r} != {b[i]!r}"
    return None


def verify_stages(spec: dict, stages: dict) -> dict[int, str]:
    """Each curation stage's rows against its oracle, keyed by call."""
    bad = {}
    corpus = spec["inputs"]["corpus"]
    for i, c in enumerate(stages["calls"]):
        path = stages["outputs"].get(c["layer"])
        if c["ok"] and path:
            msg = rows_differ(pd.read_parquet(path),
                              oracle_rows(corpus, STAGE_QUERIES[c["layer"]]))
            if msg:
                bad[i] = msg
    return bad


# ---------------------------------------------------------------------------
# monitor_lake
# ---------------------------------------------------------------------------

def _value(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def lake_stats(con, lake: str) -> dict:
    stats = {}
    for fname in sorted(os.listdir(lake)):
        name = fname.rsplit(".", 1)[0]
        src = f"read_parquet('{lake}/{fname}')"
        cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        t = {"rows": con.execute(f"SELECT count(*) FROM {src}").fetchone()[0],
             "columns": {}}
        for col, ty, *_ in cols:
            c = {"type": ty}
            if ty != "VARCHAR":
                mn, mx = con.execute(f'SELECT min("{col}"), max("{col}") FROM {src}').fetchone()
                c["min"], c["max"] = _value(mn), _value(mx)
            else:
                c["distinct"] = con.execute(
                    f'SELECT count(DISTINCT "{col}") FROM {src}').fetchone()[0]
                c["top"] = [list(r) for r in con.execute(
                    f'SELECT "{col}", count(*) AS n FROM {src} WHERE "{col}" IS NOT NULL '
                    f'GROUP BY 1 ORDER BY n DESC, 1 LIMIT 5').fetchall()]
            t["columns"][col] = c
        stats[name] = t
    return stats


def _rule_sql(spec: dict) -> tuple[str, object]:
    kind, col = spec["rule"], f'"{spec.get("column")}"'
    if kind == "not_null":
        return f"count(*) FILTER (WHERE {col} IS NULL)", 0
    if kind == "unique":
        return f"count({col}) - count(DISTINCT {col})", 0
    if kind == "in_range":
        return f"count(*) FILTER (WHERE NOT ({col} BETWEEN {spec['lo']} AND {spec['hi']}))", 0
    if kind == "accepted_values":
        vals = ", ".join("'" + v + "'" for v in spec["values"])
        return f"count(*) FILTER (WHERE NOT ({col} IN ({vals})))", 0
    if kind == "min_length":
        return f"count(*) FILTER (WHERE length({col}) < {spec['n']})", 0
    if kind == "freshness_within":
        return f"epoch_us(max({col})) // 1000000", (
            f"epoch_us(TIMESTAMP '{spec['not_before']}') // 1000000")
    if kind == "row_count_at_least":
        return "count(*)", spec["n"]
    raise ValueError(f"no DuckDB twin for rule {kind!r}")


def expected_rules(con, lake: str) -> dict:
    out = {}
    for table, specs in RULES.items():
        src = f"read_parquet('{lake}/{table}.parquet')"
        for spec in specs:
            sql, floor = _rule_sql(spec)
            metric = con.execute(f"SELECT {sql} FROM {src}").fetchone()[0]
            if spec["rule"] == "freshness_within":
                floor = con.execute(f"SELECT {floor}").fetchone()[0]
                passed = metric >= floor
            elif spec["rule"] == "row_count_at_least":
                passed = metric >= floor
            else:
                passed = metric == 0
            out[(table, spec["rule"], spec.get("column", "*"))] = (int(metric), passed)
    return out


def _numeric(ty: str) -> bool:
    return ty in ("BIGINT", "INTEGER", "DOUBLE")


def _snapshot_metrics(stats: dict) -> dict:
    """The numeric (table, column, metric) values a profile snapshot holds."""
    out = {}
    for table, t in stats.items():
        out[(table, None, "estimated_rows")] = float(t["rows"])
        out[(table, None, "exact_rows")] = float(t["rows"])
        out[(table, None, "column_count")] = float(len(t["columns"]))
        for col, c in t["columns"].items():
            if _numeric(c["type"]):
                out[(table, col, "min")] = float(c["min"])
                out[(table, col, "max")] = float(c["max"])
    return out


def _histogram(con, lake: str, table: str, col: str, lo: float, hi: float, bins: int):
    w = (hi - lo) / bins
    return dict(con.execute(
        f'SELECT CASE WHEN "{col}" < {lo!r} THEN 0 WHEN "{col}" >= {hi!r} THEN {bins + 1} '
        f'ELSE CAST(floor(("{col}" - {lo!r}) / {w!r}) AS INTEGER) + 1 END AS b, count(*) '
        f"FROM read_parquet('{lake}/{table}.parquet') WHERE \"{col}\" IS NOT NULL "
        f"GROUP BY b").fetchall())


def _psi(base: dict, cur: dict, bins: int) -> float:
    tb, tc = sum(base.values()), sum(cur.values())
    out = 0.0
    for b in range(bins + 2):
        pb = max(base.get(b, 0) / tb, PSI_EPS)
        pc = max(cur.get(b, 0) / tc, PSI_EPS)
        out += (pc - pb) * math.log(pc / pb)
    return out


def _psi_band(v: float) -> str:
    return "stable" if v <= 0.1 else "shifted" if v <= 0.25 else "action"


def _check_profile(out: dict, stats: dict) -> str | None:
    got = {t["name"]: t for t in out["profiles"]}
    if sorted(got) != sorted(stats):
        return f"profiled tables {sorted(got)}"
    for name, t in stats.items():
        prof = got[name]
        if prof["error"] or prof["exact_rows"] != t["rows"] or prof["estimated_rows"] != t["rows"]:
            return f"{name}: rows {prof['exact_rows']} error {prof['error']}"
        cols = {c["name"]: c for c in prof["columns"]}
        if sorted(cols) != sorted(t["columns"]):
            return f"{name}: columns {sorted(cols)}"
        for col, want in t["columns"].items():
            c = cols[col]
            if "min" in want and (c["min"], c["max"]) != (want["min"], want["max"]):
                return f"{name}.{col}: range {c['min']}..{c['max']} != {want['min']}..{want['max']}"
            if "top" in want:
                top = c["top"] and [list(x) for x in c["top"]]
                enum_like = want["distinct"] <= 20
                if (enum_like and top != want["top"]) or (want["distinct"] >= 100 and top):
                    return f"{name}.{col}: top values {top} != {want['top']}"
    return None


def verify_monitor(spec: dict, result: dict) -> dict[tuple[int, int], str]:
    con = duckdb.connect()
    lakes = spec["inputs"]["lakes"]
    stats = [lake_stats(con, lake) for lake in lakes]
    rules = [expected_rules(con, lake) for lake in lakes]
    hists = [{(t, c): _histogram(con, lake, t, c, lo, hi, n) for t, c, lo, hi, n in HISTOGRAMS}
             for lake in lakes]
    declared = [oracle_rows(lake, MONITOR_QUERY) for lake in lakes]
    snap = os.path.join(spec["run_dir"], "snapshots")
    bad: dict[tuple[int, int], str] = {}

    def fail(p, calls, layer, msg):
        if msg:
            bad[(p, _call_index(calls, layer))] = msg

    for p, rec in enumerate(result["passes"]):
        out, calls, v = rec["outputs"], rec["calls"], rec["outputs"]["lake"]
        st = stats[v]
        fail(p, calls, "sources.discover",
             out["tables"] != sorted(st) and f"tables {out['tables']}")
        fail(p, calls, "sources.footer",
             out["footer"] != {n: t["rows"] for n, t in st.items()} and f"footer {out['footer']}")
        fail(p, calls, "profiler.profile", _check_profile(out, st))
        text = out["render"] or ""
        missing = [n for n, t in st.items()
                   if f"public.{n} — {t['rows']} rows, {len(t['columns'])} cols" not in text]
        fail(p, calls, "profiler.render", missing and f"report lacks {missing}")
        got_rules = {(r[0], r[1], r[2]): (r[3], r[4]) for r in out["rules"]}
        want_rules = {(t, "freshness" if k == "freshness_within" else
                       "row_count" if k == "row_count_at_least" else k, c): v_
                      for (t, k, c), v_ in rules[v].items()}
        fail(p, calls, "rules.evaluate",
             got_rules != want_rules and f"rules {sorted(set(got_rules.items()) ^ set(want_rules.items()))[:3]}")
        fail(p, calls, "queries." + MONITOR_QUERY, _check_written(out["written"], declared[v]))
        fail(p, calls, "rules.snapshot", _check_snapshot(con, snap, p, st, hists[v]))
        if p:
            fail(p, calls, "rules.drift", _check_drift(out, stats[1 - v], st, hists[1 - v], hists[v]))
    return bad


def _check_written(path: str, want: pd.DataFrame) -> str | None:
    try:
        got = pd.read_parquet(path)
    except (OSError, ValueError) as exc:
        return f"written rows unreadable: {exc}"
    return rows_differ(got, want)


def _check_snapshot(con, snap: str, p: int, st: dict, hist: dict) -> str | None:
    prof = f"read_parquet('{snap}/profile/run_id=p{p}/*.parquet')"
    rows = con.execute(f"SELECT table_name, metric, value_num FROM {prof}").fetchall()
    want_n = sum(3 + sum(1 + 2 * (c["type"] != "VARCHAR") for c in t["columns"].values())
                 for t in st.values())
    if len(rows) != want_n:
        return f"profile snapshot has {len(rows)} rows, want {want_n}"
    exact = {t: v for t, m, v in rows if m == "exact_rows"}
    if exact != {n: float(t["rows"]) for n, t in st.items()}:
        return f"snapshot exact_rows {exact}"
    got = {}
    for t, c, b, n in con.execute(
            f"SELECT table_name, column_name, bucket, n FROM "
            f"read_parquet('{snap}/hist/run_id=p{p}/*.parquet')").fetchall():
        got.setdefault((t, c), {})[b] = n
    return None if got == hist else f"histogram snapshot {got} != {hist}"


def _check_drift(out: dict, prev_st: dict, cur_st: dict, prev_h: dict, cur_h: dict) -> str | None:
    prev, cur = _snapshot_metrics(prev_st), _snapshot_metrics(cur_st)
    got = {(t, c, m): (pv, cv, pct, alert) for t, c, m, pv, cv, pct, alert in out["drift"]}
    if sorted(got, key=str) != sorted(cur, key=str):
        return f"drift keys {len(got)} != {len(cur)}"
    for key, cv in cur.items():
        pv = prev[key]
        pct = (cv - pv) / abs(pv) if pv else None
        alert = (pct is not None and abs(pct) > 0.2) or (pv == 0 and cv != 0)
        g = got[key]
        if (g[0], g[1], g[3]) != (pv, cv, alert) or (
                (pct is None) != (g[2] is None) or (pct is not None and abs(g[2] - pct) > 1e-12)):
            return f"drift {key}: {g} != {(pv, cv, pct, alert)}"
    want_psi = []
    for t, c, _lo, _hi, n in HISTOGRAMS:
        v = _psi(prev_h[(t, c)], cur_h[(t, c)], n)
        want_psi.append((t, c, v, _psi_band(v)))
    got_psi = out["psi"]
    if len(got_psi) != len(want_psi) or any(
            (g[0], g[1], g[3]) != (w[0], w[1], w[3]) or abs(g[2] - w[2]) > 1e-12
            for g, w in zip(got_psi, want_psi)):
        return f"psi {got_psi} != {want_psi}"
    return None


# ---------------------------------------------------------------------------
# serve_index
# ---------------------------------------------------------------------------

def _vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    return (t.column("vec_id").to_numpy(),
            np.array(t.column("embedding").to_pylist(), dtype=np.float64))


def recall_at_k(rows: list, batch: dict, ids: np.ndarray, vecs: np.ndarray, k: int) -> float:
    got: dict[int, list[int]] = {}
    for q, n, _rank in rows:
        got.setdefault(q, []).append(n)
    hits = 0
    for q, v in zip(batch["ids"], batch["vecs"]):
        d = ((vecs - np.asarray(v, dtype=np.float64)) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d, kind="stable")[:k]].tolist())
        hits += len(exact & set(got.get(q, [])))
    return hits / (k * len(batch["ids"]))


def _ranked(rows: list, qids: list, k: int, ids: set) -> str | None:
    """Each query has exactly k distinct known items ranked 1..k."""
    per: dict[int, list] = {}
    for q, rank, item in rows:
        per.setdefault(q, []).append((rank, item))
    for q in qids:
        got = sorted(per.get(q, []))
        items = [i for _, i in got]
        if [r for r, _ in got] != list(range(1, k + 1)) or len(set(items)) != k \
                or not set(items) <= ids:
            return f"query {q}: {got}"
    return None


def _check_rrf(rows: list, qids: list, k: int, ids: set, rrf_k: int = 60) -> str | None:
    per: dict[int, list] = {}
    for q, doc, lex, vec, ppm in rows:
        rl = 1.0 / (rrf_k + lex) if lex is not None else 0.0
        rv = 1.0 / (rrf_k + vec) if vec is not None else 0.0
        want = math.floor((rl + rv) * 1_000_000.0 + 0.5)
        if ppm != want or (vec is not None and doc not in ids):
            return f"query {q} doc {doc}: rrf_ppm {ppm} != {want}"
        per.setdefault(q, []).append(doc)
    for q in qids:
        got = per.get(q, [])
        if len(got) != k or len(set(got)) != k:
            return f"query {q}: {len(got)} fused rows"
    return None


def verify_serve(spec: dict, result: dict, k: int) -> tuple[dict, list[float]]:
    inputs = spec["inputs"]
    ids, vecs = _vectors(os.path.join(inputs["corpus"], "embeddings.parquet"))
    bad: dict[tuple[int, int], str] = {}
    recalls = []
    for p, rec in enumerate(result["passes"]):
        out, calls, qs = rec["outputs"], rec["calls"], inputs["queries"][p]
        known = set(ids.tolist())
        idx = _call_index(calls, "operators.ann_search")
        rows = out["search"]
        msg = _ranked([(q, rank, n) for q, n, rank in rows], qs["search"]["ids"], k, known)
        if msg:
            bad[(p, idx)] = msg
        recalls.append((p, idx, recall_at_k(rows, qs["search"], ids, vecs, k)))
        msg = _ranked([(r[0], r[1], r[2]) for r in out["mmr"]], qs["mmr"]["ids"], k, known)
        if msg:
            bad[(p, _call_index(calls, "operators.mmr"))] = msg
        # the batch ingested in this pass is searchable from the next one
        new_ids, new_vecs = _vectors(inputs["ingest"][p])
        ids, vecs = np.concatenate([ids, new_ids]), np.vstack([vecs, new_vecs])
    mean_recall = sum(r for *_, r in recalls) / len(recalls)
    if mean_recall < RECALL_FLOOR:
        for p, idx, _r in recalls:
            bad.setdefault((p, idx), f"mean recall@{k} {mean_recall:.3f} below {RECALL_FLOOR}")
    msg = _check_index(spec["run_dir"], ids)
    if msg:
        for p, rec in enumerate(result["passes"]):
            bad[(p, _call_index(rec["calls"], "streaming.ingest"))] = msg
    stages = result.get("stages", {"calls": []})
    for i, c in enumerate(stages["calls"]):
        if c["ok"]:
            msg = _check_rrf(stages["outputs"][c["layer"]], inputs["rrf"]["ids"], k,
                             set(ids.tolist()))
            if msg:
                bad[("stages", i)] = msg
    return bad, [r for *_, r in recalls]


def _check_index(run_dir: str, ids: np.ndarray) -> str | None:
    """After the last pass the stored index holds every corpus and
    ingested vector exactly once."""
    con = duckdb.connect()
    base = f"{run_dir}/index"
    got = con.execute(
        f"SELECT count(*), count(DISTINCT vec_id) FROM ("
        f"SELECT vec_id FROM read_parquet('{base}/codes/*.parquet') UNION ALL "
        f"SELECT vec_id FROM read_parquet('{base}/codes_delta/*/*.parquet'))").fetchone()
    want = len(set(ids.tolist()))
    return None if got == (want, want) else f"index holds {got}, want {want} distinct"
