"""Seeded Sparkify corpus in the reference layout.

``song_data/<A>/<B>/<C>/*.json`` holds song records (JSON lines) and
``log_data/<YYYY>/<MM>/<YYYY-MM-DD>-events.json`` holds one day of listen
events. The log files come in two arrivals: arrival 1 covers 2018-12 and
arrival 2 covers 2019-01, so the events span two months and two years and every event of arrival 2 is later than every event of
arrival 1 (no event is late for the streaming watermark).

The log traffic follows the Sparkify sample data the reference exercise
is built on (the ``log_data`` of Udacity's data engineering course):
30 daily files for 2018-11 holding 8,056 events, 6,820 of them NextSong.
So the bench corpus has one file per day, about 269 events a day (about
16,600 over its two months) and 15.3% non-NextSong pages, whose
``artist``, ``song`` and ``length`` are null as in that sample. The song
side departs from it: the course's full ``song_data`` has 14,896
one-song files, while this corpus puts 400 songs in 16 files, so that a
pass fits the benchmark's run budget; the user count (300) is not taken
from a source either.

Edge cases the pipeline's semantics depend on (FIXTURES.md) are always
present, at small rates chosen to exercise them rather than taken from the
sample: null ``length`` (1% of events, never matches a song), titles with
no matching song (5%), empty and null ``userId`` on NextSong rows (0.5%),
argmax ties on ``ts`` for one user with different ``level``, songs of
year 0, a duplicated song record, and artists shared by many songs.

The corpus is a pure function of ``(seed, size)`` and this file; it is
written once under a cache directory keyed by all three and reused
afterwards.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np

# events per day, songs, users
SIZES = {
    "bench": dict(per_day=8_056 / 30, songs=400, users=300),
    "smoke": dict(per_day=4, songs=40, users=20),
}
SONG_FILES = 16
OTHER_PAGES = 1 - 6_820 / 8_056  # share of non-NextSong events
NULL_LENGTH, UNMATCHED, NO_USER = 0.01, 0.05, 0.005

ARRIVALS = (
    # (first ms, last ms): 2018-12-01 .. 2018-12-31, 2019-01-01 .. 2019-01-31
    (1_543_622_400_000, 1_546_300_799_000),
    (1_546_300_800_000, 1_548_979_199_000),
)

PAGES = ("Home", "Login", "Logout", "Settings", "Help")
AGENTS = (
    "Mozilla/5.0 (Windows NT 6.1; WOW64)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4)",
    "Mozilla/5.0 (X11; Linux x86_64)",
)


@dataclass(frozen=True)
class Corpus:
    song_glob: str
    log_glob: str
    arrivals: tuple[tuple[str, ...], ...]  # log file paths per arrival
    json_bytes: int


def _ident(rng: np.random.Generator, prefix: str, n: int) -> list[str]:
    alphabet = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    body = rng.choice(alphabet, size=(n, 16))
    return [prefix + "".join(r) for r in body]


def _write_lines(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r))
            fh.write("\n")


def _songs(rng: np.random.Generator, n_songs: int) -> list[dict]:
    n_artists = max(2, n_songs // 4)
    artist_ids = _ident(rng, "AR", n_artists)
    lat = rng.uniform(-60, 60, n_artists).round(5)
    lon = rng.uniform(-150, 150, n_artists).round(5)
    artists = []
    for i, aid in enumerate(artist_ids):
        located = i % 3 != 0
        artists.append(
            {
                "artist_id": aid,
                "artist_latitude": str(lat[i]) if located else None,
                "artist_longitude": str(lon[i]) if located else None,
                "artist_location": f"City {i % 50}" if located else "",
                "artist_name": f"Artist {i}",
            }
        )
    song_ids = _ident(rng, "SO", n_songs)
    owner = rng.integers(0, n_artists, n_songs)
    # multiples of 1/8 s are exact doubles: the log's `length` must equal
    # the song's `duration` bit for bit for the songplays join to match
    duration = rng.integers(90 * 8, 420 * 8, n_songs) / 8.0
    year = np.where(rng.random(n_songs) < 0.15, 0, rng.integers(1990, 2019, n_songs))
    return [
        {
            **artists[owner[i]],
            "song_id": song_ids[i],
            "title": f"Song {i}",
            "duration": float(duration[i]),
            "year": int(year[i]),
        }
        for i in range(n_songs)
    ]


def _events(
    rng: np.random.Generator, songs: list[dict], n_users: int, n_events: int,
    lo: int, hi: int,
) -> list[dict]:
    ts = np.sort(rng.integers(lo // 1000, hi // 1000, n_events)) * 1000
    ts = ts + rng.integers(0, 1000, n_events)  # sub-second millis
    user = rng.integers(1, n_users + 1, n_events)
    song_pick = rng.integers(0, len(songs), n_events)
    kind = rng.random(n_events)
    item = np.zeros(n_events, dtype=np.int64)
    seen: dict[int, int] = {}
    rows = []
    for i in range(n_events):
        u = int(user[i])
        item[i] = seen.get(u, -1) + 1
        seen[u] = int(item[i])
        s = songs[song_pick[i]]
        next_song = kind[i] >= OTHER_PAGES
        row = {
            "artist": None,
            "auth": "Logged In",
            "firstName": f"First{u}",
            "gender": "F" if u % 2 else "M",
            "itemInSession": int(item[i]),
            "lastName": f"Last{u}",
            "length": None,
            # level changes over time, so latest-wins dedup matters
            "level": "paid" if (u + int(ts[i]) // 86_400_000) % 5 == 0 else "free",
            "location": f"Town {u % 30}",
            "method": "PUT" if next_song else "GET",
            "page": "NextSong" if next_song else PAGES[int(kind[i] * 25) % len(PAGES)],
            "registration": float(lo - 86_400_000 * (u % 90)),
            "sessionId": int(u * 100 + int(ts[i]) // 86_400_000 % 100),
            "song": None,
            "status": 200 if next_song else 307,
            "ts": float(ts[i]),
            "userAgent": AGENTS[u % len(AGENTS)],
            "userId": str(u),
        }
        if next_song:
            row["song"] = s["title"]
            row["artist"] = s["artist_name"]
            if kind[i] < OTHER_PAGES + NULL_LENGTH:
                row["length"] = None  # null join key: never matches
            elif kind[i] < OTHER_PAGES + NULL_LENGTH + UNMATCHED:
                row["song"] = s["title"] + " (live)"  # unmatched title
                row["length"] = s["duration"]
            else:
                row["length"] = s["duration"]
            if kind[i] > 1 - NO_USER:
                row["userId"] = "" if i % 2 else None  # excluded from users
                row["auth"] = "Logged Out"
        rows.append(row)
    # argmax tie: the user of the last listen gets a second listen at the
    # same ts with the other level (a new itemInSession, so the streaming
    # dedup keys keep it)
    last = dict(next(r for r in reversed(rows) if r["page"] == "NextSong" and r["userId"]))
    last["level"] = "paid" if last["level"] == "free" else "free"
    last["itemInSession"] = seen[int(last["userId"])] + 1
    rows.append(last)
    return rows


def _generate(root: str, seed: int, size: str) -> None:
    p = SIZES[size]
    rng = np.random.default_rng(seed)
    songs = _songs(rng, p["songs"])
    per_file = max(1, len(songs) // SONG_FILES)
    chunks = [songs[i : i + per_file] for i in range(0, len(songs), per_file)]
    chunks[-1] = chunks[-1] + [chunks[0][0]]  # one exact duplicate record
    for k, chunk in enumerate(chunks):
        a, b, c = "ABC"[k % 3], "ABCDE"[k % 5], "ABCDEFG"[k % 7]
        _write_lines(os.path.join(root, "song_data", a, b, c, f"TR{k:05d}.json"), chunk)
    for lo, hi in ARRIVALS:
        n_events = round(p["per_day"] * (hi + 1 - lo) / 86_400_000)
        days: dict[str, list[dict]] = {}
        for row in _events(rng, songs, p["users"], n_events, lo, hi):
            day = str(np.datetime64(int(row["ts"]), "ms").astype("datetime64[D]"))
            days.setdefault(day, []).append(row)
        for day, part in days.items():
            _write_lines(
                os.path.join(root, "log_data", day[:4], day[5:7], f"{day}-events.json"),
                part,
            )


def ensure_corpus(cache_dir: str, seed: int, size: str) -> Corpus:
    """Return the corpus for ``(seed, size)``, generating it on first use."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:10]
    root = os.path.join(cache_dir, f"sparkify-{size}-seed{seed}-{version}")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        _generate(root, seed, size)
        open(done, "w").close()
    logs = []
    for dirpath, _, files in os.walk(os.path.join(root, "log_data")):
        logs += [os.path.join(dirpath, f) for f in files if f.endswith(".json")]
    logs.sort()
    arrivals = tuple(
        tuple(f for f in logs if os.path.basename(f).startswith(year))
        for year in ("2018", "2019")
    )
    json_bytes = 0
    for dirpath, _, files in os.walk(root):
        json_bytes += sum(
            os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".json")
        )
    return Corpus(
        song_glob=os.path.join(root, "song_data", "*", "*", "*", "*.json"),
        log_glob=os.path.join(root, "log_data", "*", "*", "*.json"),
        arrivals=arrivals,
        json_bytes=json_bytes,
    )
