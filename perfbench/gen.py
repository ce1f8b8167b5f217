"""Seeded input generator with Python-side expected answers.

Everything here is pure Python (no Spark), so the expected answers are
computed independently of the engine under test. The same seed and
sizes always give the same inputs and the same answers.

DeFtunes shapes follow FIXTURES.md: 36-char UUIDs for users and
sessions, 18-char MSD ids for songs, artists and tracks, 1-5 items per
session, prices <= 2, and about 4% duplicate ``user_id`` per window so
the ``Uniqueness "user_id" > 0.95`` rule runs near its boundary. Artist
popularity is Zipf-distributed so the BI aggregates have skewed keys.

The curation corpus and its embeddings each carry a planted
near-duplicate share: a planted text copy differs from its source only
in the last word (word 3-gram Jaccard ~0.98), a planted vector is its
source plus 1% noise (cosine ~0.9999).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
import uuid
from collections import defaultdict
from dataclasses import dataclass, field
from decimal import Decimal

# The paper's backfill windows (FIXTURES.md section C), then the
# operator's re-run of 2020-03.
WINDOWS = [
    ("2020-02-01", "2020-03-01"),
    ("2020-03-01", "2020-04-01"),
    ("2020-04-01", "2020-05-01"),
]
RERUN = ("2020-03-01", "2020-04-01")

PRICES = ("0.49", "0.69", "0.99", "1.29", "1.49", "1.99")
COUNTRIES = ("US", "GB", "DE", "FR", "BR", "JP", "IN", "CA", "MX", "AU")
# Shared with the Gopher marker list, so every good document passes
# the stopword rule.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _msd_id(rng: random.Random, prefix: str) -> str:
    return prefix + "".join(rng.choice("0123456789ABCDEF") for _ in range(16))


def _zipf_cdf(n: int, s: float = 1.1) -> list[float]:
    w = [1.0 / (k**s) for k in range(1, n + 1)]
    total = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x / total
        out.append(acc)
    return out


# --- DeFtunes backfill inputs ---------------------------------------------


@dataclass
class Deftunes:
    """Inputs of the DeFtunes backfill plus the answers the engine must
    reproduce. ``users``/``sessions`` are keyed by window start."""

    songs: list[dict]
    users: dict[str, list[dict]]
    sessions: dict[str, list[dict]]
    input_bytes: int
    # silver row counts per (table, window start)
    silver_counts: dict[tuple[str, str], int]
    # sales_per_artist: (year, artist_name) -> total
    artist_sales: dict[tuple[int, str], float]
    # sales_per_country: (month, year, country_code) -> total
    country_sales: dict[tuple[int, int, str], float]
    # fact rows per user: user_id -> sorted [(session_id, song_id, price)]
    purchases: dict[str, list[tuple[str, str, float]]]
    # fact (rows, total price) once each window is in
    fact_after: list[tuple[int, float]] = field(default_factory=list)

    def fetcher(self, url: str) -> list[dict]:
        """Fake REST endpoint: ``.../users?start_date=&end_date=``."""
        base, _, query = url.partition("?")
        params = dict(kv.split("=", 1) for kv in query.split("&"))
        table = base.rsplit("/", 1)[-1]
        return getattr(self, table)[params["start_date"]]

    def top_artists(self, year: int, k: int = 10) -> list[tuple[str, float]]:
        rows = [
            (name, total)
            for (y, name), total in self.artist_sales.items()
            if y == year
        ]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]

    def month_sales(self, year: int, month: int) -> dict[str, float]:
        return {
            c: t
            for (m, y, c), t in self.country_sales.items()
            if (y, m) == (year, month)
        }


def make_deftunes(
    seed: int,
    sessions_per_window: int,
    users_per_window: int,
    n_artists: int = 300,
    songs_per_artist: int = 5,
) -> Deftunes:
    rng = random.Random(seed)
    artists = []
    for a in range(n_artists):
        artists.append(
            {
                "artist_id": _msd_id(rng, "AR"),
                "artist_mbid": _uuid(rng),
                "artist_name": f"Artist {a:04d}",
            }
        )
    songs, by_artist = [], defaultdict(list)
    for a, art in enumerate(artists):
        for _ in range(songs_per_artist):
            song = {
                "track_id": _msd_id(rng, "TR"),
                "title": f"Title {len(songs)}",
                "song_id": _msd_id(rng, "SO"),
                "release": f"Release {a}",
                "artist_id": art["artist_id"],
                "artist_mbid": art["artist_mbid"],
                "artist_name": art["artist_name"],
                "duration": f"{rng.uniform(90, 420):.5f}",
                "artist_familiarity": f"{rng.random():.6f}",
                "artist_hotttnesss": f"{rng.random():.6f}",
                "year": str(rng.choice((0, 1990, 2001, 2008, 2010))),
                "track_7digitalid": str(rng.randrange(10**6)),
                "shs_perf": "-1",
                "shs_work": "0",
            }
            by_artist[a].append(song)
            songs.append(song)
    artist_ids = range(n_artists)
    artist_cdf = _zipf_cdf(n_artists)
    songs_bytes = sum(len(",".join(s.values())) + 1 for s in songs)

    users: dict[str, list[dict]] = {}
    sessions: dict[str, list[dict]] = {}
    user_rows: dict[str, list[dict]] = defaultdict(list)
    silver_counts: dict[tuple[str, str], int] = {}
    known_users: list[str] = []
    input_bytes = 0
    for ds, next_ds in WINDOWS:
        start = dt.datetime.fromisoformat(ds)
        span_s = int(
            (dt.datetime.fromisoformat(next_ds) - start).total_seconds()
        )
        n_dup = int(users_per_window * 0.04)
        fresh = []
        for _ in range(users_per_window - n_dup):
            fresh.append(
                {
                    "user_id": _uuid(rng),
                    "user_lastname": f"Last{rng.randrange(10**5)}",
                    "user_name": f"Name{rng.randrange(10**5)}",
                    "user_since": (
                        start - dt.timedelta(days=rng.randrange(1, 2000))
                    ).date().isoformat(),
                    "user_location": [
                        f"{rng.uniform(-60, 60):.4f}",
                        f"{rng.uniform(-150, 150):.4f}",
                        f"Place{rng.randrange(500)}",
                        rng.choice(COUNTRIES),
                        "UTC",
                    ],
                }
            )
        # ~4% of the window's records repeat an earlier user verbatim.
        win_users = fresh + [dict(rng.choice(fresh)) for _ in range(n_dup)]
        rng.shuffle(win_users)
        users[ds] = win_users
        for u in win_users:
            user_rows[u["user_id"]].append(u)
        known_users.extend(u["user_id"] for u in fresh)

        win_sessions = []
        items = 0
        for _ in range(sessions_per_window):
            n_items = rng.randint(1, 5)
            sess_items = []
            for _ in range(n_items):
                artist = rng.choices(artist_ids, cum_weights=artist_cdf)[0]
                song = rng.choice(by_artist[artist])
                sess_items.append(
                    {
                        "song_id": song["song_id"],
                        "song_name": song["title"],
                        "artist_id": song["artist_id"],
                        "artist_name": song["artist_name"],
                        "price": float(rng.choice(PRICES)),
                        "currency": "USD",
                        "liked": rng.random() < 0.3,
                        "liked_since": start.date().isoformat(),
                    }
                )
            items += n_items
            ts = start + dt.timedelta(seconds=rng.randrange(span_s))
            win_sessions.append(
                {
                    "session_id": _uuid(rng),
                    "user_id": rng.choice(known_users),
                    "session_start_time": ts.isoformat(),
                    "user_agent": rng.choice(("ios", "android", "web")),
                    "session_items": sess_items,
                }
            )
        sessions[ds] = win_sessions
        silver_counts[("users", ds)] = len(win_users)
        silver_counts[("sessions", ds)] = items
        silver_counts[("songs", ds)] = len(songs)
        input_bytes += (
            len(json.dumps(win_users))
            + len(json.dumps(win_sessions))
            + songs_bytes
        )

    return _with_answers(
        Deftunes(
            songs=songs,
            users=users,
            sessions=sessions,
            input_bytes=input_bytes,
            silver_counts=silver_counts,
            artist_sales={},
            country_sales={},
            purchases={},
        ),
        user_rows,
    )


def _with_answers(d: Deftunes, user_rows: dict[str, list[dict]]) -> Deftunes:
    """BI answers over all windows, mirroring the star schema: the fact
    LEFT JOINs every silver user row of its ``user_id`` (duplicate users
    fan out, as in the reference views), and money sums are exact
    decimals surfaced as floats."""
    artist = defaultdict(Decimal)
    country = defaultdict(Decimal)
    purchases = defaultdict(list)
    rows, total = 0, Decimal(0)
    for ds, _ in WINDOWS:
        for s in d.sessions[ds]:
            ts = dt.datetime.fromisoformat(s["session_start_time"])
            for it in s["session_items"]:
                price = Decimal(str(it["price"]))
                artist[(ts.year, it["artist_name"])] += price
                for u in user_rows[s["user_id"]]:
                    country[(ts.month, ts.year, u["user_location"][3])] += price
                purchases[s["user_id"]].append(
                    (s["session_id"], it["song_id"], it["price"])
                )
                rows += 1
                total += price
        d.fact_after.append((rows, float(total)))
    d.artist_sales = {k: float(v) for k, v in artist.items()}
    d.country_sales = {k: float(v) for k, v in country.items()}
    d.purchases = {u: sorted(p) for u, p in purchases.items()}
    return d


# --- LLM curation inputs ---------------------------------------------------


@dataclass
class Corpus:
    """Documents and embeddings with planted near-duplicates."""

    docs: list[tuple[int, str]]
    embeddings: list[tuple[int, list[float]]]
    good_ids: set[int]
    # planted text copies: copy id -> source id (both good documents)
    text_copies: dict[int, int]
    # planted vector copies: copy id -> source id
    vec_copies: dict[int, int]
    input_bytes: int

    @property
    def expected_export_rows(self) -> int:
        """Gopher-kept documents minus planted copies (one per group)."""
        return len(self.good_ids) - len(self.text_copies)


def _word(rng: random.Random) -> str:
    return "".join(
        rng.choice("bcdfghjklmnpqrstvwxz") + rng.choice("aeiou")
        for _ in range(rng.randint(2, 4))
    )


def make_corpus(
    seed: int,
    n_docs: int,
    dim: int = 32,
    dup_share: float = 0.2,
    bad_share: float = 0.1,
) -> Corpus:
    rng = random.Random(seed + 7919)
    vocab = sorted({_word(rng) for _ in range(4000)})
    n_copies = int(n_docs * dup_share)
    n_orig = n_docs - n_copies
    docs: list[tuple[int, str]] = []
    good: set[int] = set()
    for i in range(n_orig):
        bad = rng.random() < bad_share
        n_words = rng.randint(15, 40) if bad else rng.randint(80, 160)
        words = [
            rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n_words)
        ]
        # Two distinct stopwords up front keep the stopword rule satisfied.
        words[:2] = ["the", "of"]
        docs.append((i, " ".join(words)))
        if not bad:
            good.add(i)
    good_sorted = sorted(good)
    text_copies: dict[int, int] = {}
    for i in range(n_orig, n_docs):
        src = rng.choice(good_sorted)
        # copies of copies are never planted: sources are originals
        words = docs[src][1].split(" ")
        words[-1] = rng.choice(vocab)
        docs.append((i, " ".join(words)))
        good.add(i)
        text_copies[i] = src
    # text copies whose source already has a copy would still collapse
    # to one representative per group, so the count stays exact.

    vrng = random.Random(seed + 104729)
    vecs: list[list[float]] = []
    vec_copies: dict[int, int] = {}
    n_vorig = n_docs - int(n_docs * dup_share)
    for i in range(n_docs):
        if i < n_vorig:
            v = [vrng.gauss(0.0, 1.0) for _ in range(dim)]
        else:
            src = vrng.randrange(n_vorig)
            v = [x + vrng.gauss(0.0, 0.01) for x in vecs[src]]
            vec_copies[i] = src
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    embeddings = list(enumerate(vecs))
    input_bytes = sum(len(t) + 8 for _, t in docs) + n_docs * (dim * 4 + 8)
    return Corpus(docs, embeddings, good, text_copies, vec_copies, input_bytes)
