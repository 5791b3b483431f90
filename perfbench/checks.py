"""Independent checks of the benchmark's outputs, computed in DuckDB.

Nothing here reuses the program's code or a stored copy of its output:
the expected routing is FIXTURES.md section 4 restated in SQL over the
input table, the branch predicates are the three regexes of
``TranscriptPipeline.stages`` evaluated by DuckDB's own regex engine, and
each query of the mix is compared with its ``SparkEntry.oracleSql`` string
run in DuckDB, normalised by ``norm_rows`` of ``tools/check_oracle.py``.

Each check returns a list of problems; an empty list means the output
passed.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import norm_rows  # noqa: E402

# The branch predicates of TranscriptPipeline.stages, first match wins.
NGINX_BRANCH = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3} "
KV_BRANCH = r"^[a-z]+="
# Grok.NginxAccess with each grok pattern spelled out as a plain regex; a
# row of the nginx branch that does not match carries `_grok_failure`.
_OCTET = r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
_NUMBER = r"[+-]?(?:[0-9]+(?:\.[0-9]+)?|\.[0-9]+)"
GROK_NGINX = (
    rf"^{_OCTET}\.{_OCTET}\.{_OCTET}\.{_OCTET} - [a-zA-Z0-9._-]+ "
    r"\[[0-9]{1,2}/[A-Za-z]+/[0-9]+:[0-9]{2}:[0-9]{2}:[0-9]{2} [+-]?[0-9]+\] "
    rf'"\w+ \S+ HTTP/{_NUMBER}" {_NUMBER} {_NUMBER} ".*?" ".*?" {_NUMBER}')

BRANCHES = ("nginx", "kv", "json", "plain")

# FIXTURES.md section 4: first matching sink wins, the rest go to main.
EXPECTED_SQL = f"""
CREATE OR REPLACE TEMP TABLE expected AS
WITH b AS (
  SELECT conv_id, turn_idx, role, tool, text,
         CASE WHEN regexp_matches(text, '{NGINX_BRANCH}') THEN 'nginx'
              WHEN regexp_matches(text, '{KV_BRANCH}') THEN 'kv'
              WHEN starts_with(text, '{{') THEN 'json'
              ELSE 'plain' END AS branch
  FROM input),
g AS (
  SELECT *, coalesce(branch = 'nginx'
                     AND NOT regexp_matches(text, '{GROK_NGINX}'), false)
              AS grok_failure
  FROM b)
SELECT *, CASE WHEN tool <> 'none' THEN 'sink_tools'
               WHEN grok_failure OR role = 'system' THEN 'sink_errors'
               ELSE 'sink_main' END AS sink
FROM g
"""


def _lit(path):
    return "'" + path.replace("'", "''") + "'"


def connect(input_dir):
    """A DuckDB connection with `input` (the transcripts table) and
    `expected` (each input row with its branch, grok outcome and sink)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE VIEW input AS SELECT * FROM read_parquet("
                f"{_lit(os.path.join(input_dir, '*.parquet'))})")
    con.execute(EXPECTED_SQL)
    return con


def input_turns(con):
    return con.execute("SELECT count(*) FROM expected").fetchone()[0]


def _routed_problems(con, view):
    problems = []
    got = con.execute(
        f"SELECT _sink, role, tool, count(*), sum(strlen(text)) FROM {view} "
        "GROUP BY ALL ORDER BY ALL").fetchall()
    want = con.execute(
        "SELECT sink, role, tool, count(*), sum(strlen(text)) FROM expected "
        "GROUP BY ALL ORDER BY ALL").fetchall()
    if got != want:
        diff = sorted(set(got) ^ set(want))[:4]
        problems.append(f"per-(sink, role, tool) turns/bytes differ: {diff}")

    tag_cols = ", ".join(f"count(*) FILTER (WHERE list_contains(tags, '{t}'))"
                         for t in BRANCHES + ("_grok_failure",))
    got = con.execute(f"SELECT {tag_cols} FROM {view}").fetchone()
    branch_cols = ", ".join(f"count(*) FILTER (WHERE branch = '{t}')"
                            for t in BRANCHES)
    want = con.execute(f"SELECT {branch_cols}, count(*) FILTER (WHERE grok_failure) "
                       "FROM expected").fetchone()
    if got != want:
        problems.append("branch tag counts (nginx, kv, json, plain, _grok_failure) "
                        f"are {got}, expected {want}")

    for a, b, what in ((view, "input", "not in the input"),
                       ("input", view, "missing from the output")):
        n = con.execute(
            f"SELECT count(*) FROM (SELECT conv_id, turn_idx, text FROM {a} "
            f"EXCEPT ALL SELECT conv_id, turn_idx, text FROM {b})").fetchone()[0]
        if n:
            problems.append(f"{n} (conv_id, turn_idx, text) rows {what}")
    return problems


def check_flagship(con, out_dir):
    """One `Router.write` output: `_sink=<name>/` directories of parquet."""
    files = os.path.join(out_dir, "_sink=*", "*.parquet")
    if not glob.glob(files):
        return [f"no sink files under {out_dir}"]
    con.execute("CREATE OR REPLACE VIEW routed AS SELECT * FROM "
                f"read_parquet({_lit(files)}, hive_partitioning = true)")
    return _routed_problems(con, "routed")


def check_commit(con, root, commit_line, n_buckets):
    """One `RunPipeline` batch: committed `data/p<b>/` buckets, the
    `lineage/p<b>.json` markers and the batch's COMMIT line."""
    files = os.path.join(root, "data", "p*", "*.parquet")
    if not glob.glob(files):
        return [f"no committed files under {root}"]
    con.execute(
        "CREATE OR REPLACE VIEW committed AS SELECT *, "
        "CAST(regexp_extract(filename, '/p([0-9]+)/[^/]*$', 1) AS INTEGER) AS bucket "
        f"FROM read_parquet({_lit(files)}, filename = true)")
    problems = _routed_problems(con, "committed")

    markers = {}
    for p in glob.glob(os.path.join(root, "lineage", "p*.json")):
        with open(p) as f:
            m = json.load(f)
        markers[int(m["partitionId"])] = int(m["rows"])
    turns = input_turns(con)
    if sum(markers.values()) != turns:
        problems.append(f"lineage markers hold {sum(markers.values())} rows, "
                        f"the input has {turns}")
    per_bucket = dict(con.execute(
        "SELECT bucket, count(*) FROM committed GROUP BY bucket").fetchall())
    if per_bucket != markers:
        problems.append("rows per committed bucket differ from the lineage markers")
    split = con.execute(
        "SELECT count(*) FROM (SELECT conv_id FROM committed GROUP BY conv_id "
        "HAVING count(DISTINCT bucket) > 1)").fetchone()[0]
    if split:
        problems.append(f"{split} conv_ids fall in more than one bucket")
    if commit_line is None:
        problems.append("the batch printed no COMMIT line")
    elif commit_line.get("buckets_committed") != n_buckets:
        problems.append(f"buckets_committed is {commit_line.get('buckets_committed')}, "
                        f"expected {n_buckets}")
    return problems


# ---------------------------------------------------------------- query_mix

class Oracle:
    """Runs each query's oracle SQL once over the query tables."""

    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            name = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet({_lit(p)})")
        self.sql = oracle_sql
        self.cache = {}

    def expected(self, name):
        if name not in self.cache:
            cur = self.con.execute(self.sql[name])
            cols = [d[0] for d in cur.description]
            self.cache[name] = norm_rows(cols, cur.fetchall())
        return self.cache[name]

    def check(self, name, out_dir):
        """Problems with one query output; also returns its row count."""
        try:
            tab = pq.read_table(out_dir)
        except Exception as e:  # a missing or unreadable output is a failure
            return [f"{name}: output unreadable: {e}"], 0
        cols = list(tab.column_names)
        got = norm_rows(cols, [tuple(r[c] for c in cols) for r in tab.to_pylist()])
        want = self.expected(name)
        if got[0] != want[0]:
            return [f"{name}: columns {got[0]}, oracle has {want[0]}"], tab.num_rows
        if got[1] != want[1]:
            return [f"{name}: {len(got[1])} rows differ from the oracle's "
                    f"{len(want[1])}"], tab.num_rows
        return [], tab.num_rows
