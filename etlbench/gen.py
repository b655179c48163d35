"""Seeded input generator for the ETL benchmark.

Writes the three source tables of the music pipeline (users, songs and
three stream shards) in the shapes of FIXTURES.md, and the hourly upsert
batches of the snapshot workload.  Everything comes from one
numpy PCG64 stream seeded by `--seed`, so the same seed writes the same
bytes.

    python3 etlbench/gen.py --workload pipeline_hourly --seed 7 --out DIR
"""
import argparse
import os

import numpy as np

N_USERS = 50_000
N_GENRES = 114
SONGS_PER_GENRE = 1_000
REFERENCE_EVENTS = 34_038
COUNTRIES = ["United States", "Canada", "United Kingdom", "Germany",
             "Australia", "France"]
COUNTRY_P = [0.97958, 0.005, 0.005, 0.004, 0.003, 0.00342]
ALPHABET = np.frombuffer(
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
    dtype="S1")
DAY = np.datetime64("2024-06-25T00:00:00", "s")

# The reference snapshot's 34,038 plays name 18,006 distinct users and
# 28,352 distinct tracks (FIXTURES.md, streams).  These Zipf exponents are
# solved so that the expected distinct counts of a pipeline_hourly stream,
# unknown users and dangling tracks included, match those two numbers.
REFERENCE_USERS = 18_006
REFERENCE_TRACKS = 28_352
USER_ZIPF = 0.71
TRACK_ZIPF = 0.37
STREAM_EVENTS = {"pipeline_hourly": REFERENCE_EVENTS}
SNAPSHOT_BATCHES = 24
SNAPSHOT_BATCH_EVENTS = 5_000


def zipf_ranks(rng, n_items, size, s):
    """`size` draws from ranks 0..n_items-1 with P(r) ∝ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)


def track_ids(rng, n):
    """`n` base62 ids of 22 characters (Spotify track-id shape)."""
    codes = rng.integers(0, len(ALPHABET), size=(n, 22))
    return [b.decode() for b in ALPHABET[codes].view("S22").ravel()]


def blank_some(rng, values, share):
    """Replace a `share` of `values` with '' (the CSV null)."""
    hole = rng.random(len(values)) < share
    return ["" if h else v for v, h in zip(values, hole)]


def fmt_ts(seconds):
    """Epoch-offset seconds from DAY -> 'YYYY-MM-DD HH:MM:SS'."""
    return [str(t).replace("T", " ")
            for t in (DAY + seconds.astype("timedelta64[s]"))]


def write_csv(path, header, columns):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="\n") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(row) + "\n" for row in zip(*columns))


def gen_users(rng):
    ids = np.arange(1, N_USERS + 1)
    first = rng.integers(0, 400, N_USERS)
    last = rng.integers(0, 900, N_USERS)
    names = blank_some(rng, [f"First{a:03d} Last{b:03d}"
                             for a, b in zip(first, last)], 0.002)
    ages = blank_some(rng, [str(a) for a in rng.integers(18, 70, N_USERS)],
                      0.002)
    country = np.array(COUNTRIES)[rng.choice(len(COUNTRIES), N_USERS,
                                             p=COUNTRY_P)]
    created = (np.datetime64("2023-01-01")
               + rng.integers(0, 540, N_USERS).astype("timedelta64[D]"))
    return (["user_id", "user_name", "user_age", "user_country",
             "created_at"],
            [[str(i) for i in ids], names, ages, list(country),
             [str(d) for d in created]])


def gen_songs(rng):
    """114 genres x 1000 songs; track names repeat across songs (so a
    genre's most popular name is a real mode), artists are skewed.  The
    reference songs.csv is missing (FIXTURES.md), so these two skews have
    no source."""
    n = N_GENRES * SONGS_PER_GENRE
    ids = track_ids(rng, n)
    artists = blank_some(
        rng, [f"Artist{a:05d}" for a in zipf_ranks(rng, 30_000, n, 0.6)],
        0.001)
    names = blank_some(
        rng, [f"Track{t:05d}" for t in zipf_ranks(rng, 60_000, n, 0.5)],
        0.001)
    albums = [f"Album{a:05d}" for a in rng.integers(0, 40_000, n)]
    durations = blank_some(
        rng, [str(d) for d in rng.integers(30_000, 600_000, n)], 0.005)

    def unit(k=3):
        return [f"{v:.{k}f}" for v in rng.random(n)]

    genre = [f"genre{g:03d}" for g in np.repeat(np.arange(N_GENRES),
                                                SONGS_PER_GENRE)]
    cols = [
        [str(i) for i in range(n)], ids, artists, albums, names,
        [str(p) for p in rng.integers(0, 101, n)], durations,
        ["True" if e else "False" for e in rng.random(n) < 0.1],
        unit(), unit(),
        [str(k) for k in rng.integers(0, 12, n)],
        [f"{v:.3f}" for v in -60.0 * rng.random(n)],
        [str(m) for m in rng.integers(0, 2, n)],
        unit(), unit(), unit(), unit(), unit(),
        [f"{v:.3f}" for v in 60.0 + 140.0 * rng.random(n)],
        [str(t) for t in rng.integers(3, 6, n)],
        genre]
    header = ["id", "track_id", "artists", "album_name", "track_name",
              "popularity", "duration_ms", "explicit", "danceability",
              "energy", "song_key", "loudness", "mode", "speechiness",
              "acousticness", "instrumentalness", "liveness", "valence",
              "tempo", "time_signature", "track_genre"]
    return header, cols, ids


def gen_events(rng, n, song_ids, dangling, user_hi=N_USERS, seconds=86_400):
    """`n` plays: Zipf-skewed users (0.5% unknown to `users`) and tracks
    (1% from `dangling`, ids absent from `songs`), uniform over
    `seconds`, in time order."""
    users = 1 + rng.permutation(user_hi)[
        zipf_ranks(rng, user_hi, n, USER_ZIPF)]
    unknown = rng.random(n) < 0.005
    users = np.where(unknown, user_hi + rng.integers(1, 1_000, n), users)
    song_perm = rng.permutation(len(song_ids))
    picks = song_perm[zipf_ranks(rng, len(song_ids), n, TRACK_ZIPF)]
    miss = rng.random(n) < 0.01
    miss_pick = rng.integers(0, len(dangling), n)
    tracks = [dangling[m] if is_miss else song_ids[p]
              for p, is_miss, m in zip(picks, miss, miss_pick)]
    t = np.sort(rng.integers(0, seconds, n))
    return users, tracks, t


def generate(workload, seed, out):
    """Write the inputs of `workload` under `out`; return a dict that
    describes them (paths and row counts)."""
    rng = np.random.default_rng(seed)
    header, cols, song_ids = gen_songs(rng)
    dangling = track_ids(rng, 2_000)
    if workload in STREAM_EVENTS:
        write_csv(os.path.join(out, "songs.csv"), header, cols)
        uh, uc = gen_users(rng)
        write_csv(os.path.join(out, "users.csv"), uh, uc)
        n = STREAM_EVENTS[workload]
        users, tracks, t = gen_events(rng, n, song_ids, dangling)
        times = fmt_ts(t)
        bounds = [0, n // 3, 2 * n // 3, n]
        for s in range(3):
            lo, hi = bounds[s], bounds[s + 1]
            write_csv(os.path.join(out, "streams", f"streams{s + 1}.csv"),
                      ["user_id", "track_id", "listen_time"],
                      [[str(u) for u in users[lo:hi]], tracks[lo:hi],
                       times[lo:hi]])
        return {"users": os.path.join(out, "users.csv"),
                "songs": os.path.join(out, "songs.csv"),
                "streams": os.path.join(out, "streams", "*.csv"),
                "events": n}
    if workload == "snapshot_upsert":
        # version 0: one row per known user; then hourly batches of plays,
        # folded to the last play per user (MERGE needs unique keys)
        header = ["user_id", "track_id", "listen_time", "plays"]
        ids = np.arange(1, N_USERS + 1)
        first = rng.integers(0, len(song_ids), N_USERS)
        write_csv(os.path.join(out, "initial.csv"), header,
                  [[str(i) for i in ids], [song_ids[p] for p in first],
                   fmt_ts(rng.integers(-86_400, 0, N_USERS)),
                   ["1"] * N_USERS])
        rows = N_USERS
        for b in range(SNAPSHOT_BATCHES):
            users, tracks, t = gen_events(rng, SNAPSHOT_BATCH_EVENTS,
                                          song_ids, dangling, seconds=3_600)
            last, plays = {}, {}
            for u, tr, ts in zip(users.tolist(), tracks, t.tolist()):
                last[u] = (tr, ts)
                plays[u] = plays.get(u, 0) + 1
            keys = sorted(last)
            write_csv(os.path.join(out, "batches", f"b{b:04d}.csv"), header,
                      [[str(k) for k in keys], [last[k][0] for k in keys],
                       fmt_ts(np.array([b * 3_600 + last[k][1]
                                        for k in keys])),
                       [str(plays[k]) for k in keys]])
            rows += len(keys)
        return {"initial": os.path.join(out, "initial.csv"),
                "batches": os.path.join(out, "batches"),
                "n_batches": SNAPSHOT_BATCHES, "rows": rows}
    raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.out))
