"""Output checks: an independent DuckDB recomputation of what the engine
wrote. Each check returns a list of problems (empty = pass)."""
import csv
import glob
import math
import os

import duckdb

STREAMS = "{'user_id': 'INTEGER', 'track_id': 'VARCHAR', 'listen_time': 'TIMESTAMP'}"
USERS = ("{'user_id': 'INTEGER', 'user_name': 'VARCHAR', 'user_age': 'INTEGER', "
         "'user_country': 'VARCHAR', 'created_at': 'DATE'}")
SONG_COLS = [("id", "INTEGER"), ("track_id", "VARCHAR"), ("artists", "VARCHAR"),
             ("album_name", "VARCHAR"), ("track_name", "VARCHAR"),
             ("popularity", "INTEGER"), ("duration_ms", "INTEGER"),
             ("explicit", "BOOLEAN")] + [
    (c, "DOUBLE") for c in ("danceability", "energy")] + [
    ("song_key", "INTEGER"), ("loudness", "DOUBLE"), ("mode", "INTEGER")] + [
    (c, "DOUBLE") for c in ("speechiness", "acousticness", "instrumentalness",
                            "liveness", "valence", "tempo")] + [
    ("time_signature", "INTEGER"), ("track_genre", "VARCHAR")]
SONGS = "{" + ", ".join(f"'{c}': '{t}'" for c, t in SONG_COLS) + "}"
SNAPSHOT = ("{'user_id': 'INTEGER', 'track_id': 'VARCHAR', "
            "'listen_time': 'TIMESTAMP', 'plays': 'INTEGER'}")

# The pipeline's two KPI tables in plain SQL, the shapes of the genre_kpis /
# hourly_kpis oracles in OraclesDedupText.scala: left joins that keep
# dangling tracks (null genre group), count of non-null track ids,
# null-skipping mean, mode with ties to the smallest name, and the top 5
# artists per hour by count then name.
ENRICHED = """
CREATE VIEW e AS
SELECT s.user_id, s.track_id, s.listen_time,
       CAST(s.listen_time AS DATE) AS date,
       CAST(hour(s.listen_time) AS INTEGER) AS hour,
       g.track_genre, g.duration_ms, g.track_name, g.artists
FROM streams s
LEFT JOIN songs g ON s.track_id = g.track_id
LEFT JOIN users u ON s.user_id = u.user_id"""
GENRE_KPIS = """
WITH b AS (SELECT track_genre, date, count(track_id) AS listen_count,
                  avg(duration_ms) AS avg_duration
           FROM e GROUP BY track_genre, date),
m AS (SELECT track_genre, date, track_name FROM (
        SELECT track_genre, date, track_name,
               row_number() OVER (PARTITION BY track_genre, date
                                  ORDER BY count(*) DESC, track_name ASC) AS rn
        FROM e WHERE track_name IS NOT NULL
        GROUP BY track_genre, date, track_name) WHERE rn = 1)
SELECT b.track_genre, CAST(b.date AS VARCHAR), b.listen_count, b.avg_duration,
       m.track_name
FROM b LEFT JOIN m ON b.track_genre = m.track_genre AND b.date = m.date"""
HOURLY_KPIS = """
WITH c AS (SELECT hour, artists, count(*) AS cnt FROM e
           WHERE artists IS NOT NULL GROUP BY hour, artists),
r AS (SELECT hour, artists,
             row_number() OVER (PARTITION BY hour ORDER BY cnt DESC, artists ASC) AS rn
      FROM c),
t AS (SELECT hour, string_agg(artists, ',' ORDER BY rn) AS top_artists
      FROM r WHERE rn <= 5 GROUP BY hour),
b AS (SELECT hour, count(DISTINCT user_id) AS unique_listeners,
             CAST(count(DISTINCT track_id) AS DOUBLE) / count(*) AS diversity
      FROM e GROUP BY hour)
SELECT b.hour, b.unique_listeners, t.top_artists, b.diversity
FROM b LEFT JOIN t ON b.hour = t.hour"""


def read_spark_csv(out_dir):
    """Rows of the single part file of a Spark CSV sink ('' = NULL)."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    if len(parts) != 1:
        raise AssertionError(f"{out_dir}: expected one part file, found {len(parts)}")
    with open(parts[0], newline="") as f:
        rows = list(csv.reader(f))
    return [[v if v != "" else None for v in r] for r in rows[1:]]


def same(expected, actual, kinds):
    """Compare one row; `kinds` holds 'f' for floats (relative 1e-9),
    'i' for integers and 's' for strings."""
    for e, a, k in zip(expected, actual, kinds):
        if e is None or a is None:
            if (e is None) != (a is None):
                return False
        elif k == "f":
            if not math.isclose(float(e), float(a), rel_tol=1e-9, abs_tol=1e-12):
                return False
        elif k == "i":
            if int(e) != int(a):
                return False
        elif str(e) != a:
            return False
    return True


def compare(name, expected, actual, n_keys, kinds):
    def key(r):
        return tuple("" if v is None else str(v) for v in r[:n_keys])
    exp = {key(r): r for r in expected}
    act = {key(r): r for r in actual}
    problems = []
    if len(act) != len(actual):
        problems.append(f"{name}: duplicate keys in the output")
    missing, extra = exp.keys() - act.keys(), act.keys() - exp.keys()
    if missing or extra:
        problems.append(f"{name}: {len(missing)} groups missing, {len(extra)} unexpected")
    bad = [k for k in exp.keys() & act.keys() if not same(exp[k], act[k], kinds)]
    if bad:
        k = sorted(bad)[0]
        problems.append(f"{name}: {len(bad)} rows differ, e.g. {exp[k]} vs {act[k]}")
    return problems


def check_pipeline(inputs, out_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW streams AS SELECT * FROM read_csv('{inputs['streams']}', "
                f"header = true, nullstr = '', columns = {STREAMS})")
    con.execute(f"CREATE VIEW songs AS SELECT * FROM read_csv('{inputs['songs']}', "
                f"header = true, nullstr = '', columns = {SONGS})")
    con.execute(f"CREATE VIEW users AS SELECT * FROM read_csv('{inputs['users']}', "
                f"header = true, nullstr = '', columns = {USERS})")
    con.execute(ENRICHED)
    problems = []
    for name, sql, n_keys, kinds in (
            ("genre_kpis", GENRE_KPIS, 2, "ssifs"),
            ("hourly_kpis", HOURLY_KPIS, 1, "iisf")):
        try:
            actual = read_spark_csv(os.path.join(out_dir, name))
        except (OSError, AssertionError) as e:
            problems.append(f"{name}: {e}")
            continue
        problems += compare(name, con.execute(sql).fetchall(), actual, n_keys, kinds)
    con.close()
    return problems


def check_same_bytes(dir_a, dir_b):
    """The part files of two sinks hold the same bytes."""
    problems = []
    for name in ("genre_kpis", "hourly_kpis"):
        blobs = []
        for d in (dir_a, dir_b):
            parts = sorted(glob.glob(os.path.join(d, name, "part-*")))
            blobs.append(b"".join(open(p, "rb").read() for p in parts) if parts else None)
        if blobs[0] is None or blobs[0] != blobs[1]:
            problems.append(f"{name}: traced output differs from MusicPipeline.run's")
    return problems


def check_snapshot(inputs, batches_applied, out_dir):
    """Final table = last write wins per key over the initial load and the
    applied batches, in order; the replica equals the table."""
    files = [inputs["initial"]] + sorted(
        glob.glob(os.path.join(inputs["batches"], "*.csv")))[:batches_applied]
    con = duckdb.connect()
    union = " UNION ALL ".join(
        f"SELECT *, {i} AS seq FROM read_csv('{f}', header = true, columns = {SNAPSHOT})"
        for i, f in enumerate(files))
    expected = con.execute(
        f"SELECT user_id, track_id, strftime(listen_time, '%Y-%m-%d %H:%M:%S'), plays "
        f"FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn "
        f"FROM ({union})) WHERE rn = 1").fetchall()
    con.close()
    problems = []
    tables = {}
    for name in ("table", "replica"):
        try:
            tables[name] = read_spark_csv(os.path.join(out_dir, f"export_{name}"))
        except (OSError, AssertionError) as e:
            problems.append(f"{name}: {e}")
    if "table" in tables:
        problems += compare("snapshot table", expected, tables["table"], 1, "issi")
    if "replica" in tables and "table" in tables:
        if sorted(map(tuple, tables["replica"])) != sorted(map(tuple, tables["table"])):
            problems.append("replica differs from the source table")
    return problems
