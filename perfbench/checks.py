"""Correctness checks, run after the workload's JVM has exited (outside the
timed window). An op is failed if it threw or if a check that covers it
fails; each op counts once, however many checks it fails.
"""
import glob
import os

import duckdb
import pyarrow.parquet as pq

from gen import POP_COLS, T0_DAYS


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet')"


def run(workload, data, res):
    """Returns the set of failed ops (indexes into res["ops"]); fills in
    the rows of etl batch ops."""
    failed = {i for i, o in enumerate(res["ops"]) if o["failed"]}
    {"etl_versioned": etl, "corpus_dedup": corpus, "index_serve": index}[workload](data, res, failed)
    return failed


def _connect(data):
    # spill files stay in the run directory
    return duckdb.connect(config={"temp_directory": os.path.join(data, "duckdb.tmp")})


def _fail(res, failed, ops, msg):
    failed.update(ops)
    res["errors"].append(msg)


def _of_kind(res, kind):
    return [i for i, o in enumerate(res["ops"]) if o["kind"] == kind]


# ------------------------------------------------------------ etl_versioned

def _prepared(con, path):
    """The value side of the chain replayed in SQL over one input file:
    cleanse ('/' -> '-', exact dedup), ids, collision merge, melt. Leaves
    the long rows in the `incoming` view."""
    con.execute(f"""
      CREATE OR REPLACE TEMP VIEW raw AS SELECT DISTINCT
        replace(geoid, '/', '-') AS geoid, replace(level, '/', '-') AS level,
        replace(fips, '/', '-') AS fips, replace(name, '/', '-') AS name,
        latLo, latHi, lonLo, lonHi, area, partId, {', '.join(POP_COLS)}
      FROM read_parquet('{path}')""")
    con.execute("""
      CREATE OR REPLACE TEMP VIEW ids AS
      SELECT *, level || ':' || regexp_replace(geoid, '[rtRT]+$', '') || ':fips' || fips AS geo_key FROM raw""")
    sums = ", ".join(f"sum({c}) AS {c}" for c in POP_COLS)
    con.execute(f"CREATE OR REPLACE TEMP VIEW merged AS SELECT geo_key, {sums} FROM ids GROUP BY geo_key")
    con.execute(f"""
      CREATE OR REPLACE TEMP VIEW incoming AS
      SELECT geo_key, col_name, CAST(value AS DOUBLE) AS value
      FROM (UNPIVOT merged ON {', '.join(POP_COLS)} INTO NAME col_name VALUE value)""")


def etl(data, res, failed):
    info = res["info"]
    applied = info["batches_applied"]
    batches = sorted(glob.glob(f"{data}/batch/*.parquet"))[:applied]
    con = _connect(data)
    # replay the SCD2 history of the value table: day numbers as ints
    _prepared(con, f"{data}/snapshot.parquet")
    con.execute(f"CREATE TABLE hist AS SELECT *, {T0_DAYS} AS vf, CAST(NULL AS INTEGER) AS vt FROM incoming")
    n_expected = con.execute("SELECT count(*) FROM hist").fetchone()[0]
    for b, path in enumerate(batches):
        day = T0_DAYS + b + 1
        _prepared(con, path)
        con.execute(f"""UPDATE hist SET vt = {day} FROM (SELECT DISTINCT geo_key, col_name FROM incoming) i
                        WHERE hist.vt IS NULL AND hist.geo_key = i.geo_key AND hist.col_name = i.col_name""")
        con.execute(f"INSERT INTO hist SELECT *, {day}, NULL FROM incoming")
        n_expected += con.execute("SELECT count(*) FROM incoming").fetchone()[0]
    spark = f"""(SELECT geo_key, col_name, value,
                  CAST(epoch(valid_from) // 86400 AS INTEGER) AS vf,
                  CAST(epoch(valid_to) // 86400 AS INTEGER) AS vt
                 FROM {_parquet(info['val_history'])})"""
    con.execute(f"CREATE TABLE sh AS SELECT * FROM {spark}")
    checks = {
        "history rows = initial + incoming": f"SELECT count(*) <> {n_expected} FROM sh",
        "one live row per key": """SELECT count(*) > 0 FROM (SELECT geo_key, col_name FROM sh
                                    GROUP BY ALL HAVING count(*) FILTER (WHERE vt IS NULL) <> 1)""",
        "closed valid_to = superseding batch time": """SELECT count(*) > 0 FROM (
            SELECT vt, lead(vf) OVER (PARTITION BY geo_key, col_name ORDER BY vf) AS nxt FROM sh)
            WHERE vt IS DISTINCT FROM nxt""",
        "live state equals DuckDB replay": """SELECT count(*) > 0 FROM (
            (SELECT geo_key, col_name, value, vf FROM sh WHERE vt IS NULL
             EXCEPT ALL SELECT geo_key, col_name, value, vf FROM hist WHERE vt IS NULL)
            UNION ALL
            (SELECT geo_key, col_name, value, vf FROM hist WHERE vt IS NULL
             EXCEPT ALL SELECT geo_key, col_name, value, vf FROM sh WHERE vt IS NULL))""",
    }
    batch_ops = _of_kind(res, "batch")
    for name, sql in checks.items():
        if con.execute(sql).fetchone()[0]:
            _fail(res, failed, batch_ops, f"etl check failed: {name}")
    geo_live_dups = con.execute(f"""SELECT count(*) FROM (SELECT geo_key FROM {_parquet(info['geo_history'])}
                                    GROUP BY 1 HAVING count(*) FILTER (WHERE valid_to IS NULL) <> 1)""").fetchone()[0]
    if geo_live_dups:
        _fail(res, failed, batch_ops, "etl check failed: one live geography row per key")
    for i in batch_ops:
        res["ops"][i]["rows"] = pq.ParquetFile(f"{data}/batch/{res['ops'][i]['name']}").metadata.num_rows


# ------------------------------------------------------------ corpus_dedup

def corpus(data, res, failed):
    """Stage outputs of the last pass: SparkEntry.oracleSql where it covers
    the stage and runs in seconds (q56 gates, q33 simhash pairs, q30
    exact groups against the pipeline's exact stage); invariants
    otherwise."""
    info = res["info"]
    con = _connect(data)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM {_parquet(info['corpus'] + '/documents.parquet')}")
    # every pass runs the same code; the last one's outputs stand for all
    passes = _of_kind(res, "pass")
    out = info["last_pass"]

    def stage(name):
        return f"(SELECT * FROM {_parquet(os.path.join(out, name))})"

    def check(name, bad_sql):
        bad = con.execute(bad_sql).fetchone()[0]
        if bad:
            _fail(res, failed, passes, f"dedup check failed: {name} ({bad} rows)")

    def same(a, b):
        return f"SELECT count(*) FROM (({a} EXCEPT ALL {b}) UNION ALL ({b} EXCEPT ALL {a}))"

    oracle = info["oracle_sql"]
    for q in ("q56_clean_corpus", "q33_dedup_simhash"):
        check(f"{q} equals SparkEntry.oracleSql", same(f"(SELECT * FROM {stage(q)})", f"({oracle[q]})"))
    pipe = stage("pipeline")
    check("pipeline emits every input doc once", same(f"(SELECT doc_id FROM {pipe})", "(SELECT doc_id FROM documents)"))
    check("pipeline exact stage equals q30 oracle", same(
        f"(SELECT doc_id FROM {pipe} WHERE stage = 'exact')",
        f"(SELECT doc_id FROM documents EXCEPT SELECT keep_doc_id FROM ({oracle['q30_dedup_text_exact']}))"))
    mh = stage("q32_dedup_minhash_lsh")
    check("minhash pairs ordered, known and distinct", f"""SELECT count(*) - count(DISTINCT (doc_a, doc_b))
        + count(*) FILTER (WHERE doc_a >= doc_b OR doc_a NOT IN (SELECT doc_id FROM documents)
                           OR doc_b NOT IN (SELECT doc_id FROM documents)) FROM {mh}""")
    surv = stage("survivors")
    check("survivors are input docs", f"SELECT count(*) FROM {surv} s ANTI JOIN documents d USING (doc_id)")
    check("no two survivors share a checksum", f"""SELECT count(*) FROM (SELECT md5(d.text)
        FROM {surv} s JOIN documents d USING (doc_id) GROUP BY 1 HAVING count(*) > 1)""")


# ------------------------------------------------------------ index_serve

def index(data, res, failed):
    """The JVM compared the last round's answers with a from-scratch
    rebuild; each query that differed fails its last op."""
    for name in res["info"].get("mismatches", []):
        last = max(i for i, o in enumerate(res["ops"]) if o["kind"] == "query" and o["name"] == name)
        _fail(res, failed, [last], f"index check failed: {name} after appends differs from a from-scratch rebuild")
