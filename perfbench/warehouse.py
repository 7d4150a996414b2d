"""The star_etl checks, run after the harness JVM has exited.

The harness copies the warehouse after every star_etl op (outside the
op's timed window). Each copy is read here with pyarrow, a reader
independent of the engine, and checked against the generator's
expectations for that op (football.py):

  - every table holds the row count the generator expects;
  - a replayed week leaves every table's rows unchanged;
  - a changed team short name is visible in dim_team.

An op that fails a check is marked failed in the run record, with the
reason.
"""
import hashlib

import pyarrow.parquet as pq

TABLES = ["dim_match", "dim_player", "dim_season", "dim_stadium", "dim_team",
          "fact_player_match", "fact_team_match", "fact_team_point"]


def read(snapshot, table):
    """The table's rows as dicts (hive partition columns included)."""
    return pq.read_table(f"{snapshot}/{table}").to_pylist()


def digests(snapshot):
    """Per table: (row count, order-independent digest of its rows)."""
    out = {}
    for t in TABLES:
        rows = sorted(repr(sorted(r.items())) for r in read(snapshot, t))
        out[t] = (len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest())
    return out


def check(op, before, after, snapshot):
    """The failure of `op` given the digests before and after it, or None."""
    expect = op["expect"]
    for t in TABLES:
        if after[t][0] != expect["counts"][t]:
            return f"CountMismatch: {t} has {after[t][0]} rows, expected {expect['counts'][t]}"
    if op["kind"] == "replay" and after != before:
        changed = [t for t in TABLES if after[t] != before[t]]
        return f"ReplayChanged: replayed week {op['week']} changed {','.join(changed)}"
    attr = expect["attr"]
    if attr:
        got = [r["short_name"] for r in read(snapshot, "dim_team")
               if r["team_id"] == attr["team_id"]]
        if got != [attr["short_name"]]:
            return f"AttrNotApplied: dim_team {attr['team_id']} short_name {got}, expected {attr['short_name']}"
    return None


def check_run(record, plan_ops):
    """Check every star_etl op of the run in order; `plan_ops` are the
    plan's op descriptions, warmup first, aligned with the run's ops."""
    ran = record["setup"]["warmup_ops"] + record["ops"]
    before = None
    for rec, op in zip(ran, plan_ops):
        snapshot = rec.pop("snapshot", None)
        if not rec["ok"]:
            before = None
            continue
        try:
            after = digests(snapshot)
            failure = check(op, before, after, snapshot)
        except Exception as e:  # a table that cannot be read fails the op
            failure, after = f"{type(e).__name__}: {e}", None
        if failure:
            rec["ok"], rec["error"] = False, failure
        before = after
