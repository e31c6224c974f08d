"""Correctness checks run inside every benchmark run.

Each check returns a list of failure messages; the workload counts a step
as failed when a check on its output fails, and the run goes on.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen import pair_digest


def history_state(store) -> dict:
    """Row count, distinct-key count and the order-independent key digest
    of the store's ``history`` table (see ``gen.key_hash``)."""
    h = store.read("history")
    term = F.conv(
        F.substring(F.md5(F.concat_ws("|", "video", F.unix_micros("watched").cast("string"))), 1, 10), 16, 10
    ).cast("long")
    row = h.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("video", "watched").alias("keys"),
        F.sum(term).cast("decimal(38,0)").alias("digest"),
    ).first()
    return {"rows": row["rows"], "keys": row["keys"], "digest": int(row["digest"] or 0)}


def check_history(store, takeout) -> list[str]:
    """``history`` equals the seed rows plus every expected novel key."""
    got = history_state(store)
    fails = []
    if got["rows"] != takeout.expected_count:
        fails.append(f"history rows {got['rows']} != expected {takeout.expected_count}")
    if got["keys"] != got["rows"]:
        fails.append(f"history has {got['rows'] - got['keys']} duplicate (video, watched) keys")
    if got["digest"] != takeout.expected_digest:
        fails.append("history key digest differs from the expected key set")
    return fails


#: primary key columns of the six tables an info-dict archive writes
ARCHIVE_KEYS = {
    "users": ["user_id"],
    "channels": ["channel_id"],
    "tags": ["name"],
    "video_tags": ["video", "tag"],
    "comments": ["comment_id"],
    "videos": ["video_id"],
}


def archive_counts(store) -> dict[str, int]:
    """Row count of each of the six tables and the number of lost stubs."""
    counts = {name: store.read(name).count() for name in ARCHIVE_KEYS}
    counts["lost"] = store.read("videos").filter(F.col("availability") == "lost").count()
    return counts


def check_archive(store, infodicts) -> list[str]:
    """Row counts, unique primary keys, ``comments.video ⊆ videos``,
    ``video_tags.tag ⊆ tags`` and one lost stub per invalid id, all
    computed by one Spark job."""
    expected = infodicts.expected_counts()
    t = {name: store.read(name) for name in ARCHIVE_KEYS}
    parts = [
        t[name].agg(F.lit(name).alias("what"), F.count(F.lit(1)).alias("n"), F.count_distinct(*keys).alias("k"))
        for name, keys in ARCHIVE_KEYS.items()
    ]
    for what, df in (
        ("orphans", t["comments"].join(t["videos"], F.col("video") == F.col("video_id"), "left_anti")),
        ("dangling", t["video_tags"].join(t["tags"], F.col("tag") == F.col("name"), "left_anti")),
        ("lost", t["videos"].filter(F.col("availability") == "lost")),
    ):
        parts.append(df.agg(F.lit(what).alias("what"), F.count(F.lit(1)).alias("n"), F.count(F.lit(1)).alias("k")))
    got = {r["what"]: r for r in functools.reduce(DataFrame.unionByName, parts).collect()}
    fails = []
    for name in ARCHIVE_KEYS:
        n, k = got[name]["n"], got[name]["k"]
        if n != expected[name]:
            fails.append(f"{name} rows {n} != expected {expected[name]}")
        if k != n:
            fails.append(f"{name} has {n - k} duplicate primary keys")
    if got["orphans"]["n"]:
        fails.append(f"{got['orphans']['n']} comments reference no archived video")
    if got["dangling"]["n"]:
        fails.append(f"{got['dangling']['n']} video_tags reference no tag")
    if got["lost"]["n"] != expected["lost"]:
        fails.append(f"lost stubs {got['lost']['n']} != invalid ids {expected['lost']}")
    return fails


def frame_hash(pdf: pd.DataFrame) -> int:
    """Order-independent hash of a collected result."""
    return int(pd.util.hash_pandas_object(pdf, index=False).sum()) if len(pdf) else 0


def check_query(key: str, pdf: pd.DataFrame, sf_dir: str, recorded: dict, con) -> list[str]:
    """A collected result against its DuckDB oracle (the comparison of
    ``tests/oracle_harness.py``) or, for ``q_dedup_fuzzy``, against the
    pair count and digest the generator recorded."""
    from oracle_harness import _normalize

    from yark_spark.queries import ORACLES

    if key == "q_dedup_fuzzy":
        pairs = sorted(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))
        want = recorded["q_dedup_fuzzy"]
        if len(pairs) != want["pairs"] or pair_digest(pairs) != want["digest"]:
            return [f"{key}: {len(pairs)} pairs, expected {want['pairs']} with the recorded digest"]
        return []
    duck = con.execute(ORACLES[key]).fetchdf()
    if len(pdf) != len(duck):
        return [f"{key}: {len(pdf)} rows, oracle {len(duck)}"]
    if sorted(pdf.columns) != sorted(duck.columns):
        return [f"{key}: columns {sorted(pdf.columns)}, oracle {sorted(duck.columns)}"]
    if not _normalize(pdf).equals(_normalize(duck)):
        return [f"{key}: values differ from the oracle"]
    return []
