#  Copyright (c) 2026 graft contributors
#  SPDX-License-Identifier: Apache-2.0
"""Output checks made apart from the program.

`check_notes` compares the pipeline's silver and gold outputs with the
generator's ground truth and with values DuckDB recomputes from the
bronze rows; `check_suite` runs each query's oracle SQL in DuckDB over
the same parquet inputs. Both return the set of operations, as
(round, kind, name), whose outputs are wrong, plus problems found in
set-up (round -1).
"""
import datetime
import decimal
import math
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

# graft.ops.Pseudonymise.HashSalt, the reference's public sample salt
SALT = "$2b$12$Lrw9ZQwsFNSu/6KGCCTWCu"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def check_notes(input_dir, export_dir, result, plan):
    """Failed notes operations; `plan` is the generator's batch list."""
    con = _con()
    inp, exp = Path(input_dir), Path(export_dir)
    con.execute(f"CREATE VIEW bronze AS SELECT * FROM '{inp}/notes.parquet'")
    con.execute(f"CREATE VIEW expected AS SELECT * FROM '{inp}/expected.parquet'")
    for t in ["silver_cdf", "gold_cdf", "silver_keys", "gold_keys"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{exp}/{t}/*.parquet'")
    versions = result["versions"]
    setup_v = result["setup_versions"]
    order = {b["batch"]: i for i, b in enumerate(plan)}
    # the plan's key changes, in plan order; the backfill is order -1
    rows = [(-1, -1, k, 1) for (k,) in con.execute(
        "SELECT NoteID FROM bronze WHERE batch = -1").fetchall()]
    for b in plan:
        o = order[b["batch"]]
        rows += [(o, b["batch"], k, 1) for k in b["inserts"]]
        rows += [(o, b["batch"], k, -1) for k in b["deletes"]]
    con.execute("CREATE TABLE plan (ord INT, batch INT, NoteID BIGINT, sign INT)")
    con.executemany("INSERT INTO plan VALUES (?, ?, ?, ?)", rows)
    con.execute("CREATE TABLE rounds (round INT, ord INT, silver BIGINT, gold BIGINT)")
    con.executemany("INSERT INTO rounds VALUES (?, ?, ?, ?)",
                    [(v["round"], order[v["batch"]], v["silver"], v["gold"])
                     for v in versions])
    failed = set()

    def round_of(zone, v):
        """The round whose batch committed version v of a zone."""
        if v <= setup_v[zone]:
            return -1
        for x in versions:
            if v <= x[zone]:
                return x["round"]
        return -1

    def fail_batch(r):
        failed.add((r, "batch", "pipeline"))

    if "UserID" in result["silver_columns"]:
        failed.add((-1, "setup", "silver_columns"))
        for x in versions:
            fail_batch(x["round"])
    # silver text, hashed id and rounded date of every inserted row
    bad = con.execute(f"""
        SELECT DISTINCT s._commit_version FROM silver_cdf s
        JOIN expected e USING (NoteID) JOIN bronze b USING (NoteID)
        WHERE s._change_type = 'insert' AND (
          s.NoteText IS DISTINCT FROM e.silver_text
          OR s.PatientID_hashed IS DISTINCT FROM sha256(b.PatientID || '{SALT}')
          OR epoch_us(s.AppointmentDate) IS DISTINCT FROM
             epoch_us(date_trunc('hour', b.AppointmentDate)))""").fetchall()
    bad += con.execute("""
        SELECT DISTINCT _commit_version FROM silver_cdf
        WHERE NoteID NOT IN (SELECT NoteID FROM bronze)""").fetchall()
    for (v,) in bad:
        fail_batch(round_of("silver", v))
    # gold entities of every inserted row
    bad = con.execute("""
        SELECT DISTINCT g._commit_version FROM gold_cdf g
        LEFT JOIN expected e USING (NoteID) WHERE g._change_type = 'insert' AND (
          e.NoteID IS NULL
          OR g.ent_text IS DISTINCT FROM e.ent_text
          OR g.ent_category IS DISTINCT FROM e.ent_category
          OR g.ent_offset IS DISTINCT FROM e.ent_offset
          OR g.ent_length IS DISTINCT FROM e.ent_length)""").fetchall()
    for (v,) in bad:
        fail_batch(round_of("gold", v))
    # key sets after every batch: the change feed replayed up to the
    # batch's version against the plan's live set up to the batch
    for zone in ["silver", "gold"]:
        bad = con.execute(f"""
            WITH want AS (
              SELECT r.round, p.NoteID, sum(p.sign) AS n FROM rounds r
              JOIN plan p ON p.ord <= r.ord GROUP BY ALL),
            got AS (
              SELECT r.round, c.NoteID,
                sum(CASE c._change_type WHEN 'insert' THEN 1 ELSE -1 END) AS n
              FROM rounds r JOIN {zone}_cdf c ON c._commit_version <= r.{zone}
              GROUP BY ALL)
            SELECT DISTINCT round FROM want FULL JOIN got USING (round, NoteID)
            WHERE coalesce(want.n, 0) <> coalesce(got.n, 0)""").fetchall()
        for (r,) in bad:
            fail_batch(r)
    # the live tables at the end: the final live set, no key twice
    last = versions[-1]["round"] if versions else -1
    final_ord = max((order[v["batch"]] for v in versions), default=-1)
    for zone in ["silver", "gold"]:
        dup, diff = con.execute(f"""
            SELECT (SELECT count(*) - count(DISTINCT NoteID) FROM {zone}_keys),
              (SELECT count(*) FROM (
                (SELECT NoteID FROM plan WHERE ord <= {final_ord}
                 GROUP BY NoteID HAVING sum(sign) > 0)
                EXCEPT SELECT NoteID FROM {zone}_keys))
              + (SELECT count(*) FROM (SELECT NoteID FROM {zone}_keys EXCEPT
                (SELECT NoteID FROM plan WHERE ord <= {final_ord}
                 GROUP BY NoteID HAVING sum(sign) > 0)))""").fetchone()
        if dup or diff:
            fail_batch(last)
    # consumer reads against the generator's predictions
    by_batch = {b["batch"]: b for b in plan}
    for rd in result["reads"]:
        b, key = by_batch[rd["batch"]], (rd["round"], "read", rd["kind"])
        o = order[b["batch"]]
        if rd["kind"] == "category":
            want = dict(con.execute(f"""
                WITH live AS (SELECT NoteID FROM plan WHERE ord <= {o}
                              GROUP BY NoteID HAVING sum(sign) > 0)
                SELECT c, count(*) FROM (SELECT unnest(ent_category) AS c
                  FROM expected JOIN live USING (NoteID)) GROUP BY c""").fetchall())
            ok = want == rd["value"]
        elif rd["kind"] == "lookup":
            want = con.execute("SELECT silver_text FROM expected WHERE NoteID = ?",
                               [rd["key"]]).fetchall()
            ok = [w for (w,) in want] == rd["value"]
        else:
            ok = rd["value"] == len(b["inserts"]) + len(b["deletes"])
        if not ok:
            failed.add(key)
    return failed


def _norm_cell(v):
    """The cell normalisation of scripts/selfcheck.py."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else "f:" + v.hex()
    if isinstance(v, decimal.Decimal):
        return "DECIMAL(BANNED):" + str(v)
    if isinstance(v, bytes):
        return "b:" + v.hex()
    if isinstance(v, datetime.datetime):
        return "ts:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):
        return _norm_cell(v.tolist())
    return str(v)


def _canon(df):
    cols = sorted(df.columns)
    return cols, sorted(tuple(_norm_cell(df[c].iloc[i]) for c in cols)
                        for i in range(len(df)))


def check_suite(input_dir, export_dir, result):
    """Failed query operations: each query's exported result against
    its oracle SQL run by DuckDB over the same inputs.
    """
    con = _con()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{input_dir}/{t}.parquet')")
    oracle = result["oracle_sql"]
    failed, notes = set(), []
    for m in result["modules"]:
        q = m["query"]
        res = Path(export_dir) / q
        if q not in oracle or not res.exists():
            failed.add(q)
            notes.append(f"{q}: no result")
            continue
        got = pq.read_table(res).to_pandas()
        if oracle[q] is None:
            if len(got) == 0:
                failed.add(q)
                notes.append(f"{q}: empty result and no oracle")
            continue
        if _canon(got) != _canon(con.execute(oracle[q]).df()):
            failed.add(q)
            notes.append(f"{q}: differs from its oracle")
    return {(o["round"], o["kind"], o["name"]) for o in result["ops"]
            if o["name"] in failed}, notes
