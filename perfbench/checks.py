"""Output checks for the benchmark's workloads, run after the timed
region. Each check returns a list of failure strings (empty = pass) and,
where a wrong answer is attributable to operations, how many operations
it fails. Expected answers are restated in DuckDB SQL over the same
staged inputs, or — for curate, whose full oracle is the program's own
— as invariants every correct curation satisfies."""

import glob
import json
import math
import os

import duckdb

ABS_TOL = 2e-4  # outputs are rounded to 4 dp; engines may round a tie differently


def _con():
    return duckdb.connect(config={"threads": 1})


def _lit(path):
    return "'" + path.replace("'", "''") + "'"


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= ABS_TOL + 1e-9 * abs(b)
    return a == b


def rows_match(actual, expected):
    """Compare two ordered row lists; returns None or a description of
    the first difference."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    for i, (ra, re) in enumerate(zip(actual, expected)):
        ra, re = list(ra), list(re)
        if len(ra) != len(re) or not all(_same(x, y) for x, y in zip(ra, re)):
            return f"row {i}: {ra} != {re}"
    return None


EPOCH = "(epoch_us(ts) // 1000000)"
PROJECT = f"SELECT event_id, user_id, {EPOCH} AS epoch_s, event_type, value FROM ev"


def dashboard_sql(kind, params):
    if kind == "load":
        return (f"{PROJECT} WHERE ts >= TIMESTAMP '{params['start']}' "
                f"AND ts < TIMESTAMP '{params['end']}' ORDER BY event_id")
    if kind == "recent":
        return (f"{PROJECT} WHERE ts >= (SELECT max(ts) FROM ev) - "
                f"INTERVAL {int(params['hours'])} HOUR ORDER BY event_id")
    return {
        "metrics": f"""SELECT round(avg(CAST(value AS DECIMAL(38,6))), 4)::DOUBLE,
                   round(max(value), 4), round(min(value), 4), count(*),
                   count(DISTINCT user_id), max({EPOCH}) FROM ev""",
        "distribution": """SELECT event_type, count(*) AS cnt FROM ev GROUP BY 1
                        ORDER BY cnt DESC, event_type""",
        "corr": """WITH w AS (SELECT value AS temperature,
                          CAST(json_extract(props, '$.k') AS DOUBLE) AS humidity,
                          (event_id % 30) + 0.5 AS wind_speed FROM ev)
                SELECT * FROM (
                  SELECT 'humidity', 'humidity', round(corr(humidity, humidity), 4) FROM w
                  UNION ALL SELECT 'humidity', 'wind_speed', round(corr(humidity, wind_speed), 4) FROM w
                  UNION ALL SELECT 'temperature', 'humidity', round(corr(temperature, humidity), 4) FROM w
                  UNION ALL SELECT 'temperature', 'temperature', round(corr(temperature, temperature), 4) FROM w
                  UNION ALL SELECT 'temperature', 'wind_speed', round(corr(temperature, wind_speed), 4) FROM w
                  UNION ALL SELECT 'wind_speed', 'wind_speed', round(corr(wind_speed, wind_speed), 4) FROM w
                ) ORDER BY 1, 2""",
        "group": """SELECT user_id, round(avg(CAST(value AS DECIMAL(38,6))), 4)::DOUBLE,
                 round(min(value), 4), round(max(value), 4), count(*)
                 FROM ev GROUP BY user_id ORDER BY user_id""",
        "latest": f"""SELECT user_id, {EPOCH}, event_type, value FROM (
                   SELECT *, row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
                   WHERE rn = 1 ORDER BY user_id""",
        "daily": """SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 round(max(value) - min(value), 4), count(*)
                 FROM ev GROUP BY 1, 2 ORDER BY 1, 2""",
    }[kind]


def check_predictions(con, entities, predictions):
    """One non-null prediction per entity, on each entity's newest
    event. Returns None or a description of what is wrong."""
    ids = ",".join(str(int(e)) for e in entities)
    newest = con.execute(f"""SELECT user_id, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        FROM ev WHERE user_id IN ({ids})) WHERE rn = 1 ORDER BY user_id""").fetchall()
    diff = rows_match([p[:3] for p in predictions], newest)
    if diff:
        return f"not one prediction per entity on its newest event: {diff}"
    bad = [p for p in predictions if p[3] is None or not math.isfinite(p[3])]
    if bad:
        return f"null or non-finite predictions: {bad[:3]}"
    bad = [p for p in predictions if not _same(p[4], p[3] - p[2])]
    if bad:
        return f"predicted_change is not predicted minus current: {bad[:3]}"
    return None


def persistence_rmse(con, entities):
    """rmse of predicting value_future = value on the chronological
    holdout (the last 20% of labelled rows' time)."""
    ids = ",".join(str(int(e)) for e in entities)
    return con.execute(f"""
        WITH f AS (SELECT ts, value, lead(value, 24) OVER (PARTITION BY user_id
                     ORDER BY ts, event_id) AS fut
                   FROM ev WHERE user_id IN ({ids})),
             lab AS (SELECT * FROM f WHERE fut IS NOT NULL),
             t AS (SELECT quantile_disc({EPOCH}, 0.8) AS thr FROM lab)
        SELECT sqrt(avg((fut - value) * (fut - value))) FROM lab, t
        WHERE {EPOCH} > thr""").fetchone()[0]


def check_dashboard(seed_dir, work, result, answers=None):
    """Every distinct view's answer against DuckDB, the predict answer
    against each entity's newest event, and the training's holdout rmse
    against persistence. Returns (failures, failed_ops)."""
    if answers is None:
        with open(os.path.join(work, "dashboard.jsonl")) as fh:
            answers = [json.loads(line) for line in fh if line.strip()]
    extra = result["extra"]
    con = _con()
    con.execute("CREATE VIEW ev AS SELECT * FROM read_parquet("
                + _lit(os.path.join(seed_dir, "events", "events.parquet")) + ")")
    failures, failed_ops = [], 0
    for a in answers:
        if a["kind"] == "predict":
            diff = check_predictions(con, extra["entities"], a["rows"])
        else:
            diff = rows_match(a["rows"], con.execute(dashboard_sql(a["kind"], a["params"]))
                              .fetchall())
        if diff:
            failures.append(f"dashboard {a['kind']} {a['params']}: {diff}")
            failed_ops += a.get("n", 1)
    rmse = extra.get("holdout", {}).get("rmse")
    base = persistence_rmse(con, extra["entities"])
    if rmse is None or not rmse < base:
        failures.append(f"train: holdout rmse {rmse} not below persistence {base}")
        failed_ops += 1
    return failures, failed_ops


def check_curate(seed_dir, work, manifest, quota, n_ops, out_rows=None):
    """Invariants of a correct curation. Returns (failures, failed_ops):
    every run's output was compared equal to the first in the JVM, so a
    failed invariant fails every run."""
    if out_rows is None:
        with open(os.path.join(work, "curate.jsonl")) as fh:
            out_rows = [json.loads(line) for line in fh if line.strip()]
    held = manifest["held_out_source"]
    inj = manifest["curate_injected"]
    con = _con()
    con.execute("CREATE TABLE docs AS SELECT * FROM read_parquet("
                + _lit(os.path.join(seed_dir, "curate", "documents.parquet")) + ")")
    con.execute("CREATE TABLE out (doc_id BIGINT, source VARCHAR, n INT)")
    if out_rows:
        con.executemany("INSERT INTO out VALUES (?, ?, ?)", out_rows)
    q = lambda sql: con.execute(sql).fetchall()
    failures = []
    n_sources = q(f"SELECT count(DISTINCT source) FROM docs WHERE source <> '{held}'")[0][0]
    if len(out_rows) < quota * n_sources // 2:
        failures.append(f"curate: only {len(out_rows)} docs out")
    if q("SELECT count(*) FROM out o ANTI JOIN docs d USING (doc_id, source)")[0][0]:
        failures.append("curate: output doc not in the input (or source changed)")
    if q("SELECT count(*) - count(DISTINCT doc_id) FROM out")[0][0]:
        failures.append("curate: a doc_id appears twice")
    if q(f"SELECT count(*) FROM out WHERE source = '{held}'")[0][0]:
        failures.append("curate: held-out source in the output")
    over = q(f"SELECT source, count(*) FROM out GROUP BY 1 HAVING count(*) > {quota}")
    if over:
        failures.append(f"curate: per-source quota {quota} exceeded: {over}")
    dup = q("""SELECT count(*) FROM (SELECT md5(regexp_replace(lower(trim(d.text)),
               '\\s+', ' ', 'g')) h FROM out JOIN docs d USING (doc_id)
               GROUP BY h HAVING count(*) > 1)""")[0][0]
    if dup:
        failures.append(f"curate: {dup} content hashes kept twice")
    kept = {r[0] for r in out_rows}
    leaked = [i for i in inj["contaminated"] if i in kept]
    if leaked:
        failures.append(f"curate: contaminated docs kept: {leaked[:5]}")
    both = [p for p in inj["near_dup_pairs"] + inj["exact_dup_pairs"]
            if p[0] in kept and p[1] in kept]
    if both:
        failures.append(f"curate: both members of a duplicate pair kept: {both[:5]}")
    return failures, (n_ops if failures else 0)


def admitted_expected(con, files):
    """Incremental keep-min: per content, the earliest batch wins;
    within it, the lowest doc_id (q_corpus_ingest_check's oracle)."""
    con.execute("CREATE OR REPLACE TABLE fed (doc_id BIGINT, text VARCHAR, batch_id BIGINT)")
    for i, f in enumerate(files):
        con.execute(f"INSERT INTO fed SELECT doc_id, text, {i} FROM read_parquet({_lit(f)})")
    return con.execute("""SELECT doc_id, batch_id FROM (
        SELECT doc_id, batch_id, row_number() OVER (PARTITION BY
          md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
          ORDER BY batch_id, doc_id) rn FROM fed) WHERE rn = 1
        ORDER BY doc_id""").fetchall()


def _files_under(*dirs):
    out = []
    for d in dirs:
        for root, _, names in os.walk(d):
            out += [os.path.join(root, n) for n in names]
    return out


def check_ingest(seed_dir, work, result, admitted=None):
    """The admitted membership against DuckDB's incremental keep-min,
    plus the store's size figures. Returns (failures, failed_ops,
    figures)."""
    fed = result["extra"]["files_fed"]
    warm = result["extra"]["warmup_files"]
    files = sorted(glob.glob(os.path.join(seed_dir, "ingest", "*.parquet")))[:fed]
    con = _con()
    expected = admitted_expected(con, files)
    corpus = os.path.join(work, "corpus")
    if admitted is None:
        admitted = con.execute(f"""SELECT doc_id, CAST(batch_id AS BIGINT) FROM
            read_parquet({_lit(corpus + '/*/*.parquet')}, hive_partitioning = true)
            ORDER BY doc_id""").fetchall()
    failures, failed_ops = [], 0
    exp_by = {}
    for d, b in expected:
        exp_by.setdefault(b, set()).add(d)
    got_by = {}
    for d, b in admitted:
        got_by.setdefault(b, set()).add(d)
    bad = sorted(b for b in set(exp_by) | set(got_by) if exp_by.get(b) != got_by.get(b))
    if bad:
        failures.append(f"ingest: admitted membership differs in batches {bad[:10]}")
        # a wrong warm-up batch still counts against the run
        failed_ops = max(1, sum(1 for b in bad if b >= warm))
    store = [os.path.join(work, "delta"), os.path.join(work, "warehouse", "bench_hashes")]
    written = _files_under(corpus, *store)
    text_bytes = con.execute(f"""SELECT sum(strlen(text)) FROM read_parquet(
        {_lit(corpus + '/*/*.parquet')}, hive_partitioning = true)""").fetchone()[0] or 0
    size = sum(os.path.getsize(f) for f in written)
    figures = {
        "streaming.admitted_docs": len(admitted),
        "streaming.dup_dropped": con.execute("SELECT count(*) FROM fed").fetchone()[0]
                                 - len(admitted),
        "streaming.files_written": len(written),
        "streaming.bytes_written": size,
        "streaming.store_files": len(_files_under(*store)),
        "streaming.stored_bytes_per_byte": size / text_bytes if text_bytes else 0.0,
    }
    return failures, failed_ops, figures
