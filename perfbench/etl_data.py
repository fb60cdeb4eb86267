"""Seeded reference-shaped ETL inputs and their Spark-free oracle.

Inputs follow the reference layout:

* ``song_data/A/B/C/TR*.json``: one JSON object per file, in the Million
  Song Dataset fan-out (the three letters after ``TR`` name the dirs);
* ``log_data/YYYY/MM/YYYY-MM-DD-events.json``: one line-delimited JSON
  file per day, for the full reload;
* ``raw/YYYY-MM-DD-events.json``: the same days laid flat, for the
  per-file run, where a fixed share of the files is poisoned.

The data carries the corners the reference semantics depend on:
Zipf-skewed ``userId``s, ~20% non-``NextSong`` pages, empty and null
``userId``s, a user whose maximum ``ts`` is tied (in every day file, so
also in the last one, where it is the user's global maximum), events that
match a song exactly on (title, artist, ``length == duration``), near
misses that differ only in length, events that match nothing, two
events in one second, and timestamps across three years.

The oracle computes, with plain Python, the rows every output table must
hold (``songplay_id`` excluded) and reduces each table to a row count and
a content digest. The same seed gives byte-identical files.
"""

import bisect
import datetime as dt
import hashlib
import json
import math
import os
import random

PAGES_OTHER = ["Home", "Login", "Logout", "Settings", "About", "Help", "Upgrade"]
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
WORDS = ("blue night river fire road heart love dance city rain gold dream "
         "shadow light summer stone echo wild silver ocean").split()
CITIES = ["New York, NY", "Chicago, IL", "Austin, TX", "Portland, OR",
          "Denver, CO", "Atlanta, GA", "Seattle, WA", "Boston, MA"]
AGENTS = ["Mozilla/5.0 (Windows NT 6.1)", "Mozilla/5.0 (Macintosh)",
          "Mozilla/5.0 (X11; Linux x86_64)"]
FIRST = ["Ada", "Ben", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
LAST = ["Lee", "Kim", "Diaz", "Shaw", "Roy", "Park", "Cole", "Ward"]

# Dates span 2018-2020: the partitioned writes see three years.
FIRST_DAY = dt.date(2018, 11, 1)
DAY_STRIDE = 37


class Spec:
    """Input sizes of one ETL dataset."""

    def __init__(self, songs, days, events_per_day, users, poison_every=0):
        self.songs = songs
        self.days = days
        self.events_per_day = events_per_day
        self.users = users
        # Every poison_every-th day file of the per-file layout is
        # poisoned (0: none).
        self.poison_every = poison_every

    def as_dict(self):
        return dict(songs=self.songs, days=self.days,
                    events_per_day=self.events_per_day, users=self.users,
                    poison_every=self.poison_every)


def _ident(rng, prefix, n=16):
    return prefix + "".join(LETTERS[int(rng.random() * 26)] for _ in range(n))


def _words(rng, k):
    return " ".join(WORDS[int(rng.random() * len(WORDS))] for _ in range(k))


def make_catalog(rng, n_songs):
    """Song objects, each with the artist fields of its file."""
    artists = []
    for i in range(max(1, n_songs // 3)):
        located = rng.random() < 0.6
        artists.append(dict(
            artist_id=_ident(rng, "AR"),
            artist_latitude=f"{rng.random() * 90:.5f}" if located else None,
            artist_longitude=f"{-rng.random() * 120:.5f}" if located else None,
            artist_location=CITIES[int(rng.random() * len(CITIES))] if located else "",
            artist_name=f"{_words(rng, 2).title()} {i}",
        ))
    songs = []
    for i in range(n_songs):
        # Every artist has at least one song; the rest are shared, so
        # artists repeat across files.
        a = artists[i] if i < len(artists) else artists[int(rng.random() * len(artists))]
        year = 0 if rng.random() < 0.1 else 1960 + int(rng.random() * 50)
        songs.append(dict(
            a,
            song_id=_ident(rng, "SO"),
            title=f"{_words(rng, 3).title()} {i}",
            duration=round(60 + rng.random() * 540, 5),
            year=year,
            track=_ident(rng, "TR"),
        ))
    return songs


def _zipf_picker(n, s=1.1):
    cum, acc = [], 0.0
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cum.append(acc)
    return lambda rng: bisect.bisect_left(cum, rng.random() * acc)


def _users(rng, n):
    users = []
    for u in range(n):
        users.append(dict(
            userId=str(u + 1),
            firstName=FIRST[u % len(FIRST)],
            lastName=LAST[(u * 7) % len(LAST)],
            gender="F" if u % 2 else "M",
            location=CITIES[u % len(CITIES)],
            userAgent=AGENTS[u % len(AGENTS)],
            registration=float(1_500_000_000_000 + int(rng.random() * 10 ** 10)),
            # level flips free -> paid at this fraction of each day
            paid_from=rng.random(),
        ))
    return users


def make_day(rng, day, songs, users, pick_user, n_events):
    """Events of one day, sorted by ts."""
    day_ms = int(dt.datetime(day.year, day.month, day.day,
                             tzinfo=dt.timezone.utc).timestamp()) * 1000
    events = []
    for item in range(n_events):
        frac = rng.random()
        ts = float(day_ms + int(frac * 86_400_000))
        r = rng.random()
        user = users[pick_user(rng)]
        if r < 0.02:
            uid, user = "", None
        elif r < 0.03:
            uid, user = None, None
        else:
            uid = user["userId"]
        nextsong = rng.random() >= 0.2
        ev = dict(artist=None, auth="Logged In" if user else "Logged Out",
                  firstName=user["firstName"] if user else None,
                  gender=user["gender"] if user else None,
                  itemInSession=item % 50,
                  lastName=user["lastName"] if user else None,
                  length=None,
                  level=("paid" if frac >= user["paid_from"] else "free") if user else "free",
                  location=user["location"] if user else None,
                  method="PUT" if nextsong else "GET",
                  page="NextSong" if nextsong else PAGES_OTHER[int(rng.random() * len(PAGES_OTHER))],
                  registration=user["registration"] if user else None,
                  sessionId=int(frac * 500) + (int(user["userId"]) if user else 0),
                  song=None, status=200, ts=ts,
                  userAgent=user["userAgent"] if user else None,
                  userId=uid)
        if nextsong:
            m = rng.random()
            s = songs[int(rng.random() * len(songs))]
            if m < 0.35:        # exact match on (title, artist, length)
                ev.update(song=s["title"], artist=s["artist_name"], length=s["duration"])
            elif m < 0.45:      # near miss: length differs
                ev.update(song=s["title"], artist=s["artist_name"], length=s["duration"] + 0.01)
            else:               # matches nothing
                ev.update(song=_words(rng, 2).title(), artist=_words(rng, 1).title(),
                          length=round(60 + rng.random() * 540, 5))
        if uid is None and rng.random() < 0.5:
            del ev["userId"]    # null by absence as well as by value
        events.append(ev)
    events.sort(key=lambda e: e["ts"])
    # Two NextSong events in one second (time_table's distinct).
    nxt = [e for e in events if e["page"] == "NextSong"]
    twin = dict(nxt[0], ts=nxt[0]["ts"] + 1.0 if nxt[0]["ts"] % 1000 < 999 else nxt[0]["ts"] - 1.0)
    events.append(twin)
    # Tie: the busiest user's latest NextSong event is repeated at the
    # same ts with the other level; the users table keeps both rows.
    counts = {}
    for e in nxt:
        if e.get("userId"):
            counts[e["userId"]] = counts.get(e["userId"], 0) + 1
    top = max(sorted(counts), key=lambda u: counts[u])
    last = max((e for e in nxt if e.get("userId") == top), key=lambda e: e["ts"])
    events.append(dict(last, level="free" if last["level"] == "paid" else "paid",
                       itemInSession=last["itemInSession"] + 1))
    events.sort(key=lambda e: e["ts"])
    return events


def day_name(day):
    return f"{day.isoformat()}-events.json"


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"))


def poison(rng, lines):
    """Breaks one line so that a fail-fast read must reject the file:
    either a truncated line, or a non-numeric ``ts`` on a ``NextSong``
    event. A bad ``ts`` on any other page is not used: Spark's JSON filter
    pushdown stops parsing a row once ``page`` fails the ``NextSong``
    filter, so a fail-fast read never sees that field.
    """
    i = int(rng.random() * len(lines))
    if rng.random() < 0.5:
        lines[i] = lines[i][: len(lines[i]) // 2]
    else:
        while '"page":"NextSong"' not in lines[i]:
            i = (i + 1) % len(lines)
        lines[i] = lines[i].replace('"ts":', '"ts":"not-a-number","x":', 1)
    return lines


def generate(root, seed, spec, layout):
    """Write one dataset under ``root`` and return its manifest.

    ``layout`` is ``"batch"`` (song_data + log_data) or ``"incremental"``
    (raw/ day files, some poisoned; song_data is not needed there).
    """
    rng = random.Random(seed)
    songs = make_catalog(rng, spec.songs)
    users = _users(rng, spec.users)
    pick = _zipf_picker(spec.users)
    if layout == "batch":
        for s in songs:
            t = s["track"]
            d = os.path.join(root, "song_data", t[2], t[3], t[4])
            os.makedirs(d, exist_ok=True)
            obj = {k: s[k] for k in ("artist_id", "artist_latitude", "artist_longitude",
                                     "artist_location", "artist_name", "song_id",
                                     "title", "duration", "year")}
            with open(os.path.join(d, t + ".json"), "w") as f:
                f.write(_dumps(obj))
    files = []
    for i in range(spec.days):
        day = FIRST_DAY + dt.timedelta(days=i * DAY_STRIDE)
        events = make_day(rng, day, songs, users, pick, spec.events_per_day)
        lines = [_dumps(e) for e in events]
        poisoned = (layout == "incremental" and spec.poison_every > 0
                    and i % spec.poison_every == spec.poison_every - 1)
        if poisoned:
            lines = poison(rng, lines)
        if layout == "batch":
            d = os.path.join(root, "log_data", f"{day.year:04d}", f"{day.month:02d}")
        else:
            d = os.path.join(root, "raw")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, day_name(day)), "w") as f:
            f.write("\n".join(lines) + "\n")
        per_file = layout == "incremental" and not poisoned
        files.append(dict(name=day_name(day), events=len(lines), poisoned=poisoned,
                          expected=incremental_expected(events) if per_file else None))
    manifest = dict(seed=seed, layout=layout, spec=spec.as_dict(), files=files)
    if layout == "batch":
        manifest["expected"] = batch_expected(songs, _reparse(root))
        manifest["events"] = sum(f["events"] for f in files)
    return manifest


def _reparse(root):
    """Every log event as the reader sees it (the files are the truth)."""
    events = []
    for dirpath, _, names in sorted(os.walk(os.path.join(root, "log_data"))):
        for n in sorted(names):
            with open(os.path.join(dirpath, n)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


# ---------------------------------------------------------------- oracle

def start_second(ts):
    return math.floor(ts / 1000)


def time_row(sec):
    t = dt.datetime.fromtimestamp(sec, tz=dt.timezone.utc)
    return (sec, t.hour, t.day, t.isocalendar()[1], t.month, t.year,
            t.isoweekday() % 7 + 1)


def next_song(events):
    return [e for e in events if e.get("page") == "NextSong"]


def users_rows(events):
    ns = next_song(events)
    best = {}
    for e in ns:
        u = e.get("userId")
        best[u] = max(best.get(u, -math.inf), e["ts"])
    return [(e.get("userId"), e.get("firstName"), e.get("lastName"), e.get("gender"),
             e.get("level"))
            for e in ns
            if e.get("userId") not in ("", None) and e["ts"] == best[e.get("userId")]]


def time_rows(events):
    return sorted({time_row(start_second(e["ts"])) for e in next_song(events)})


def songs_rows(songs):
    return [(s["song_id"], s["title"], s["artist_id"], s["year"], s["duration"]) for s in songs]


def artists_rows(songs):
    return sorted({(s["artist_id"], s["artist_name"], s["artist_location"],
                    s["artist_latitude"], s["artist_longitude"]) for s in songs},
                  key=repr)


def songplays_rows(songs, events):
    by_key = {}
    for s in songs:
        by_key.setdefault((s["title"], s["artist_name"], s["duration"]), []).append(s)
    rows = []
    for e in next_song(events):
        sec = start_second(e["ts"])
        t = time_row(sec)
        key = (e.get("song"), e.get("artist"), e.get("length"))
        hits = by_key.get(key, []) if None not in key else []
        for s in hits or [None]:
            rows.append((sec, e.get("userId"), e.get("level"),
                         s["song_id"] if s else None, s["artist_id"] if s else None,
                         e.get("sessionId"), e.get("location"), e.get("userAgent"),
                         t[5], t[4]))
    return rows


# Output columns per table, in the order the digest uses.
COLUMNS = {
    "songs": ["song_id", "title", "artist_id", "year", "duration"],
    "artists": ["artist_id", "name", "location", "latitude", "longitude"],
    "users": ["user_id", "first_name", "last_name", "gender", "level"],
    "time": ["start_time", "hour", "day", "week", "month", "year", "weekday"],
    "songplays": ["start_time", "user_id", "level", "song_id", "artist_id",
                  "session_id", "location", "user_agent", "year", "month"],
}


def digest(rows):
    """Order-free content digest of a multiset of rows."""
    lines = sorted(json.dumps(list(r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def summary(rows):
    return dict(rows=len(rows), digest=digest(rows))


def batch_expected(songs, events):
    return dict(songs=summary(songs_rows(songs)),
                artists=summary(artists_rows(songs)),
                users=summary(users_rows(events)),
                time=summary(time_rows(events)),
                songplays=summary(songplays_rows(songs, events)))


def incremental_expected(events):
    return dict(users=summary(users_rows(events)), time=summary(time_rows(events)))


# ------------------------------------------------------- reading outputs

def read_table(path, table):
    """Rows of one output table, in COLUMNS order, with timestamps as
    epoch seconds and hive partition columns as ints."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    cols = []
    for name in COLUMNS[table]:
        c = t.column(name)
        if pa.types.is_timestamp(c.type):
            per_s = {"s": 1, "ms": 10 ** 3, "us": 10 ** 6, "ns": 10 ** 9}[c.type.unit]
            c = pc.divide(pc.cast(c, pa.int64()), per_s)
        cols.append(c.to_pylist())
    return list(zip(*cols)) if cols else []


def check_table(path, table, want):
    """None when the table at ``path`` matches ``want``, else a reason."""
    try:
        got = summary(read_table(path, table))
    except Exception as e:  # a missing or unreadable table is a failure
        return f"{table}: unreadable ({type(e).__name__}: {e})"
    if got != want:
        return f"{table}: got {got['rows']} rows {got['digest'][:12]}, want {want['rows']} rows {want['digest'][:12]}"
    return None
