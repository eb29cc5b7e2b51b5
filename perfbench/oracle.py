"""DuckDB oracle for the benchmark's correctness gate.

Runs after the JVM exits, outside every timed window. `check` returns
the number of wrong results (each counts as a failed operation) and a
note per mismatch.
"""
import decimal
import glob
import os

import duckdb
import pandas as pd

# The four view jobs of `graft.pipelines.Jobs.standardJobs`, in SQL.
NIGHTLY_VIEWS = {
    "view_manifestos": """
        SELECT o_orderkey, o_custkey, c_name, n_name AS nation, r_name AS region,
               o_orderdate, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey""",
    "view_movimento": """
        SELECT l_orderkey, l_linenumber, p_name, s_name, l_quantity, l_extendedprice,
               l_shipdate
        FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey""",
    "view_manifestomovimento": """
        SELECT o_orderkey, l_linenumber, o_custkey, l_suppkey
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    "view_adicionais": "SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders",
}


def connect(data):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def spark_out(path):
    return f"read_parquet('{path}/**/*.parquet')"


def fingerprint(con, rel):
    """Row count and an order-independent hash of a relation."""
    return con.execute(
        f"SELECT count(*), sum(hash(x)::HUGEINT) FROM (SELECT * FROM {rel}) x").fetchone()


def check(workload, cfg, res):
    con = connect(cfg["data"])
    try:
        return CHECKS[workload](con, cfg, res["outputs"])
    finally:
        con.close()


def check_nightly(con, cfg, out):
    notes = []
    root = out.get("nightly_out")
    if root is None:
        return 1, ["nightly_load: no completed round to check"]
    for name, sql in NIGHTLY_VIEWS.items():
        got, want = fingerprint(con, spark_out(f"{root}/{name}")), fingerprint(con, f"({sql})")
        if got != want:
            notes.append(f"nightly_load: {name} {got} != oracle {want}")
    # parcela_ciot: one oracle row per distinct (id_manifesto, cd_parcela),
    # the job's primary-key collapse of `ParcelaCiot.oracle`
    con.execute(f"CREATE TEMP TABLE want AS {out['parcela_oracle']}")
    con.execute(f"CREATE TEMP TABLE got AS SELECT * FROM {spark_out(root + '/parcela_ciot')}")
    n_got, n_keys, n_got_keys, n_in_oracle = con.execute("""
        SELECT (SELECT count(*) FROM got),
               (SELECT count(*) FROM (SELECT DISTINCT id_manifesto, cd_parcela FROM want)),
               (SELECT count(*) FROM (SELECT DISTINCT id_manifesto, cd_parcela FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got INTERSECT SELECT * FROM want))
    """).fetchone()
    if not (n_got == n_keys == n_got_keys == n_in_oracle) or n_got == 0:
        notes.append(f"nightly_load: parcela_ciot rows={n_got} keys={n_got_keys} "
                     f"oracle keys={n_keys} rows found in oracle={n_in_oracle}")
    return len(notes), notes


def _row(con, key):
    r = con.execute("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM t "
                    "WHERE o_orderkey = ?", [key]).fetchone()
    return None if r is None else (int(r[0]), int(r[1]), r[2], float(r[3]))


def _spark_row(r):
    return None if r is None else (int(r[0]), int(r[1]), r[2], float(r[3]))


def _apply(con, step):
    """Apply one planned change serially; return {change_type: rows}."""
    rng = f"o_orderkey BETWEEN {step.get('lo')} AND {step.get('hi')}"
    kind = step["kind"]
    if kind == "merge":
        src = f"read_parquet('{step['file']}')"
        matched = con.execute(
            f"SELECT count(*) FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {src})"
        ).fetchone()[0]
        total = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {src})")
        con.execute(f"INSERT INTO t SELECT * FROM {src}")
        feed = {"insert": total - matched}
        if matched:
            feed.update(update_preimage=matched, update_postimage=matched)
        return feed
    n = con.execute(f"SELECT count(*) FROM t WHERE {rng}").fetchone()[0]
    if kind == "update":
        con.execute(f"UPDATE t SET o_totalprice = o_totalprice + {step['delta']}, "
                    f"o_orderstatus = 'U' WHERE {rng}")
        return {"update_preimage": n, "update_postimage": n} if n else {}
    con.execute(f"DELETE FROM t WHERE {rng}")
    return {"delete": n} if n else {}


def _feed(rows):
    return {(int(v), t): int(n) for v, t, n in rows}


def check_cdc(con, cfg, out):
    notes = []
    con.execute("CREATE TABLE t AS SELECT * FROM orders")
    _apply(con, cfg["warmup"])
    version = int(out["base_version"])
    agg_sql = "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(30,2))) FROM t"
    aggs = {version: con.execute(agg_sql).fetchone()}
    want_feed = {}
    for i, (step, got) in enumerate(zip(cfg["plan"], out["steps"])):
        if got["ok"]:
            changes = _apply(con, step)
            if changes:
                version += 1
                want_feed.update({(version, k): v for k, v in changes.items() if v})
                aggs[version] = con.execute(agg_sql).fetchone()
            n = sum(changes.get(k, 0) for k in ("insert", "update_postimage", "delete"))
            if (got["version"], got["changed"]) != (version, n):
                notes.append(f"cdc_upsert: step {i} ({step['kind']}) committed version "
                             f"{got['version']} changing {got['changed']} rows; replay "
                             f"expects version {version} changing {n}")
        if got["read_ok"] and _spark_row(got["point"]) != _row(con, step["point"]):
            notes.append(f"cdc_upsert: step {i} point read of {step['point']} gave "
                         f"{got['point']}, replay has {_row(con, step['point'])}")
    if "feed" not in out or _feed(out["feed"]) != want_feed:
        notes.append(f"cdc_upsert: change feed {sorted(_feed(out.get('feed', [])).items())} "
                     f"!= replay {sorted(want_feed.items())}")
    got, want = fingerprint(con, spark_out(out["final"])), fingerprint(con, "t")
    if got != want:
        notes.append(f"cdc_upsert: final table {got} != replay {want}")
    if cfg["trace"]:
        notes += check_probe(con, cfg, out, aggs, int(out["first_version"]), version)
    return len(notes), notes


def check_probe(con, cfg, out, aggs, first, latest):
    """The traced run's extra reads and its streaming replay."""
    notes = []
    v, n, total = out.get("read_asof", (None, None, None))
    if v not in aggs or (n, decimal.Decimal(total)) != aggs[v]:
        notes.append(f"cdc_upsert: read as of version {v} gave {n} rows summing {total}, "
                     f"replay has {aggs.get(v)}")
    if out.get("history") != latest - first + 1:
        notes.append(f"cdc_upsert: history lists {out.get('history')} versions, "
                     f"the seed and replay made {latest - first + 1}")
    if out.get("snapshot") != v:
        notes.append(f"cdc_upsert: snapshot of version {v} reported {out.get('snapshot')}")
    if "stream_final" not in out:
        return notes + ["cdc_upsert: the streaming replay did not complete"]
    events = f"read_parquet('{cfg['events']}')"
    got = fingerprint(con, spark_out(out["stream_final"]))
    want = fingerprint(con, events)
    sums = con.execute(f"SELECT (SELECT sum(value) FROM {spark_out(out['stream_final'])}), "
                       f"(SELECT sum(value) FROM {events})").fetchone()
    if got != want or abs(sums[0] - sums[1]) > 1e-6 * max(1.0, abs(sums[1])):
        notes.append(f"cdc_upsert: streamed sink {got} sum {sums[0]} != distinct events "
                     f"{want} sum {sums[1]}")
    return notes


CHECKS = {"nightly_load": check_nightly, "cdc_upsert": check_cdc}
