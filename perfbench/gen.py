"""Seeded input generator for the benchmark workloads.

Everything the engine reads in a run is written here, from one
``random.Random(seed)`` per input set, as files under a cache directory:

* ``social/``  — yesterday's tweets, Reddit posts and Reddit comments as
  JSON-array files under Hive-style ``topic=<t>/dataload=<dd-MM-yyyy>``
  partitions (FIXTURES.md §1-3), one file per topic and 15-minute scrape
  batch, with every cleanse branch live;
* ``ticks/``   — the stream_refresh ticks: per tick one file of new tweets
  and one file of Reddit score re-fetches for posts 1-3 days old.

The same seed writes byte-identical files: records are built in a fixed
order and JSON is dumped with fixed separators. A finished input set is moved
into place with one rename, so an interrupted generation leaves no
half-written cache behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import string

# Bump when the generated data changes shape, so stale caches are ignored.
VERSION = 7

# --- sizes (one place, so the README can quote them) -------------------------

# The reference scrapes each topic every 15 minutes and lands one JSON-array
# file per table per scrape batch, so a day holds up to 96 files per topic
# and table; the generator keeps that file layout. Batches and records are
# scaled down to fit the benchmark's time budget (perfbench/README.md): the
# generated day holds the first 48 batches (12 hours), and 120 Reddit posts
# against the reference's cap of 100 per topic per batch (19,200 a day).
BATCH_MINUTES = 15
BATCHES = 48
DAY_MINUTES = BATCHES * BATCH_MINUTES
DAILY = {"tweets": 600, "posts": 120, "comments": 480}
TICKS = {"count": 40, "tweets": 40, "refetch": 60, "history_posts": 1200}

TOPICS = ("ukraine war", "chatgpt")
DAY = "13-03-2023"  # "yesterday" for the daily job
DAY_ISO = "2023-03-13"
HISTORY_DAYS = (("10-03-2023", "2023-03-10"), ("11-03-2023", "2023-03-11"),
                ("12-03-2023", "2023-03-12"))

BLOCKLIST = ["scamcoin", "buy followers", "xxxdeal"]
SUBREDDITS = ("UkraineWarVideoReport", "worldnews", "ChatGPT", "OpenAI",
              "europe", "technology")

_WORDS = {
    "en": "the war news report today people city army drone support peace "
          "model chat answer prompt people think official confirm data "
          "million percent price market video update live front line".split(),
    "es": "la guerra noticias hoy gente ciudad paz apoyo modelo respuesta "
          "mercado precio video frente informe oficial".split(),
    "de": "der krieg nachrichten heute leute stadt frieden hilfe modell "
          "antwort markt preis bericht front".split(),
    "uk": "війна новини сьогодні люди місто мир армія дрон підтримка фронт "
          "звіт".split(),
    "ru": "война новости сегодня люди город мир армия модель ответ рынок".split(),
    "zh": "战争 新闻 今天 人们 城市 和平 军队 模型 回答 市场 视频".split(),
}
_LANGS = tuple(_WORDS)
_EMOJI = ("\U0001F1FA\U0001F1E6", "\U0001F525", "\U0001F602", "❤️",
          "\U0001F916")


def _sentence(rng: random.Random, n_words: int, lang: str | None = None) -> str:
    lang = lang or rng.choice(_LANGS)
    words = _WORDS[lang]
    return " ".join(rng.choice(words) for _ in range(n_words))


def _username(rng: random.Random, pool: int) -> str:
    return f"user{rng.randrange(pool):05d}"


def _base36(n: int) -> str:
    digits = string.digits + string.ascii_lowercase
    out = ""
    while True:
        n, r = divmod(n, 36)
        out = digits[r] + out
        if n == 0:
            return out


def _skewed(rng: random.Random, cap: int) -> int:
    # Pareto-like heavy tail, mostly small.
    return min(cap, int(rng.paretovariate(1.2)) - 1)


def _write_json_array(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("[\n")
        f.write(",\n".join(json.dumps(r, ensure_ascii=False, separators=(",", ":"))
                           for r in records))
        f.write("\n]\n")


def _batch(stamp: str) -> str:
    """The 15-minute scrape batch of a ``yyyy-MM-dd HH:mm:ss`` stamp, as
    ``HHMM``."""
    hh, mm = int(stamp[11:13]), int(stamp[14:16])
    return f"{hh:02d}{mm - mm % BATCH_MINUTES:02d}"


def _write_partitioned(root: str, table: str, records: list[dict], dataload: str,
                       batch_of, drift: list[dict] | None = None) -> None:
    """Write one file per topic and scrape batch (``batch_of(record)``),
    as the reference's scrapers land them. Each record carries its topic
    in a private ``_topic`` key that is stripped before writing (the topic
    lives in the path). `drift` rows go to one small extra file of the
    first topic: a scrape batch whose schema drifted. A JSON-array file
    with one bad value marks EVERY row of that file corrupt and copies
    the whole file into each row's ``_corrupt_record``, so drift is kept
    to its own file, as a drifted scraper batch would be."""
    files: dict[tuple[str, str], list[dict]] = {}
    for r in records:
        key = (r["_topic"], batch_of(r))
        files.setdefault(key, []).append(r)
    for (topic, batch), rows in sorted(files.items()):
        for r in rows:
            del r["_topic"]
        pdir = os.path.join(root, table, f"topic={topic}", f"dataload={dataload}")
        _write_json_array(os.path.join(pdir, f"batch-{batch}.json"), rows)
    if drift:
        for r in drift:
            r.pop("_topic", None)
        pdir = os.path.join(root, table, f"topic={TOPICS[0]}", f"dataload={dataload}")
        _write_json_array(os.path.join(pdir, "batch-drift.json"), drift)


# --- tweets / posts / comments -----------------------------------------------


def _tweet_content(rng: random.Random, users: int) -> str:
    """A tweet body that keeps every cleanse branch live."""
    r = rng.random()
    if r < 0.02:
        return rng.choice(["", "[deleted]", "[removed]"])
    if r < 0.04:  # over the 1000-char guard
        return _sentence(rng, 260, "en")[:1001 + rng.randrange(400)]
    if r < 0.07:  # blocklisted, in mixed case
        term = rng.choice(BLOCKLIST)
        term = "".join(c.upper() if rng.random() < 0.5 else c for c in term)
        return f"{_sentence(rng, 6)} {term} {_sentence(rng, 4)}"
    parts = [_sentence(rng, rng.randrange(5, 30))]
    if rng.random() < 0.3:
        parts.append(f"@{_username(rng, users)}")
    if rng.random() < 0.3:
        parts.append("#" + rng.choice(["UkraineWar", "ChatGPT", "AI", "news"]))
    if rng.random() < 0.2:
        parts.append(f"https://t.co/{_base36(rng.randrange(36 ** 8))}")
    if rng.random() < 0.2:
        parts.append(rng.choice(_EMOJI))
    if rng.random() < 0.1:
        parts.append("\n" + _sentence(rng, 5))
    return " ".join(parts)


def _tweets(rng: random.Random, n: int, first_id: int, day_iso: str,
            users: int = 1500) -> list[dict]:
    rows = []
    for i in range(n):
        minute = rng.randrange(DAY_MINUTES)
        sec = rng.randrange(60)
        hh, mm = divmod(minute, 60)
        date = f"{day_iso} {hh:02d}:{mm:02d}:{sec:02d}"
        if rng.random() < 0.03:  # late row: yesterday's event in today's load
            date = f"2023-03-12 {hh:02d}:{mm:02d}:{sec:02d}"
        scrape = f"{day_iso} {hh:02d}:{mm - mm % 15:02d}:00"
        mentioned = None
        reply = None
        if rng.random() < 0.4:  # mentionedUsers is null ~60% of the time
            names = [_username(rng, users) for _ in range(rng.randrange(1, 4))]
            if rng.random() < 0.05:
                names.append("")  # "a,b," — the empty tail must not become a user
            mentioned = ",".join(names)
            if rng.random() < 0.6:
                reply = names[0] or None
        elif rng.random() < 0.1:
            reply = _username(rng, users)
        user = _username(rng, users)
        if rng.random() < 0.02:
            user = rng.choice(["None", ""])
        rows.append({
            "_topic": rng.choice(TOPICS),
            "id": first_id + i * 7919,
            "date": date,
            "content": _tweet_content(rng, users),
            "username": user,
            "followersCount": _skewed(rng, 1_000_000),
            "mentionedUsers": mentioned,
            "retweetCount": _skewed(rng, 50_000),
            "replyCount": _skewed(rng, 5_000),
            "inReplyToUser": reply,
            "timeStamp": scrape,
        })
    # duplicates: re-scraped tweets appear again in a later batch
    for src in rng.sample(rows, max(1, n // 30)):
        dup = dict(src)
        dup["retweetCount"] = src["retweetCount"] + rng.randrange(1, 50)
        hh, mm = int(src["timeStamp"][11:13]), int(src["timeStamp"][14:16])
        later = min(DAY_MINUTES - BATCH_MINUTES, hh * 60 + mm + BATCH_MINUTES * rng.randrange(1, 5))
        dup["timeStamp"] = f"{day_iso} {later // 60:02d}:{later % 60:02d}:00"
        rows.append(dup)
    return rows


def _posts(rng: random.Random, n: int, first: int, day_iso: str,
           users: int = 800) -> list[dict]:
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.25:
            content = ""  # link post
        elif r < 0.30:
            content = rng.choice(["[deleted]", "[removed]"])
        elif r < 0.32:
            content = _sentence(rng, 300, "en")[:1001 + rng.randrange(300)]
        elif r < 0.35:
            content = f"{_sentence(rng, 5)} {rng.choice(BLOCKLIST).upper()}"
        else:
            content = _sentence(rng, rng.randrange(5, 60))
        user = _username(rng, users)
        u = rng.random()
        if u < 0.03:
            user = rng.choice(["None", ""])
        elif u < 0.06:
            user = "AutoModerator"
        (hh, mm), ss = divmod(rng.randrange(DAY_MINUTES), 60), rng.randrange(60)
        rows.append({
            "_topic": rng.choice(TOPICS),
            "id": _base36(first + i * 37),
            "date": f"{day_iso} {hh:02d}:{mm:02d}:{ss:02d}",
            "title": _sentence(rng, rng.randrange(3, 12)),
            "content": content,
            "username": user,
            "commentCount": _skewed(rng, 400),
            "score": 1 + _skewed(rng, 5000),
            "subreddit": rng.choice(SUBREDDITS),
        })
    return rows


def _comments(rng: random.Random, n: int, posts: list[dict], first: int,
              day_iso: str, users: int = 2000) -> list[dict]:
    """Comment trees 2-4 levels deep under the posts, plus orphans."""
    rows: list[dict] = []
    i = 0
    while len(rows) < n:
        orphan = rng.random() < 0.02
        post = rng.choice(posts)
        post_id = _base36(10 ** 9 + rng.randrange(10 ** 6)) if orphan else post["id"]
        parent = f"t3_{post_id}"
        for _depth in range(rng.randrange(2, 5)):
            cid = _base36(first + i * 41)
            i += 1
            r = rng.random()
            if r < 0.03:
                content = ""
            elif r < 0.06:
                content = "[deleted]"
            elif r < 0.07:
                content = _sentence(rng, 300, "en")[:1100]
            else:
                content = _sentence(rng, rng.randrange(3, 40))
            user = _username(rng, users)
            u = rng.random()
            if u < 0.03:
                user = rng.choice(["None", ""])
            elif u < 0.05:
                user = "AutoModerator"
            (hh, mm), ss = divmod(rng.randrange(DAY_MINUTES), 60), rng.randrange(60)
            rows.append({
                "_topic": post["_topic"],
                "id": cid,
                "date": f"{day_iso} {hh:02d}:{mm:02d}:{ss:02d}",
                "content": content,
                "username": user,
                "score": rng.randrange(-20, 500),
                "post_id": post_id,
                "parent_id": parent,
            })
            parent = f"t1_{cid}"
            if len(rows) >= n:
                break
    return rows


def _gen_social(rng: random.Random, root: str) -> None:
    tweets = _tweets(rng, DAILY["tweets"], 1635322899233112064, DAY_ISO)
    drift = _tweets(rng, 5, 1635399999999000000, DAY_ISO)[:5]
    drift[2]["followersCount"] = "n/a"  # schema drift: not a number
    posts = _posts(rng, DAILY["posts"], 36 ** 6, DAY_ISO)
    comments = _comments(rng, DAILY["comments"], posts, 36 ** 7, DAY_ISO)
    _write_partitioned(root, "tweets", tweets, DAY, lambda r: _batch(r["timeStamp"]), drift)
    _write_partitioned(root, "reddit_posts", posts, DAY, lambda r: _batch(r["date"]))
    _write_partitioned(root, "reddit_comments", comments, DAY, lambda r: _batch(r["date"]))


# --- stream ticks -------------------------------------------------------------


def _gen_ticks(rng: random.Random, root: str) -> None:
    """Tick 0 carries the history: Reddit posts of the three previous days.
    Ticks 1.. each carry new tweets and score re-fetches of history posts
    (the reference's late refresh of posts 1-3 days old). Re-fetched rows
    carry a later ``fetched`` stamp, so last-writer-wins is well defined.
    Files are flat (``tick-NNNNN.json``); partition values ride in the
    records as ``dataload`` / ``topic`` columns."""
    history = []
    for d, (dataload, iso) in enumerate(HISTORY_DAYS):
        per_day = TICKS["history_posts"] // len(HISTORY_DAYS)
        for p in _posts(rng, per_day, 36 ** 6 + d * 10 ** 7, iso):
            p["topic"] = p.pop("_topic")
            p["dataload"] = dataload
            p["fetched"] = 0
            history.append(p)
    _write_json_array(os.path.join(root, "posts", "tick-00000.json"), history)
    _write_json_array(os.path.join(root, "tweets", "tick-00000.json"), [])
    next_tweet = 1635400000000000000
    for k in range(1, TICKS["count"] + 1):
        tw = _tweets(rng, TICKS["tweets"], next_tweet, DAY_ISO)
        next_tweet += TICKS["tweets"] * 7919 * 2
        for t in tw:
            t["topic"] = t.pop("_topic")
            t["dataload"] = DAY
        refetch = []
        for p in rng.sample(history, TICKS["refetch"]):
            q = dict(p)
            q["score"] = p["score"] + rng.randrange(-5, 400)
            q["commentCount"] = p["commentCount"] + rng.randrange(0, 20)
            q["fetched"] = k
            refetch.append(q)
        _write_json_array(os.path.join(root, "tweets", f"tick-{k:05d}.json"), tw)
        _write_json_array(os.path.join(root, "posts", f"tick-{k:05d}.json"), refetch)


# --- cache ------------------------------------------------------------------

_PARTS = {"social": _gen_social, "ticks": _gen_ticks}


def generate(seed: int, dest: str) -> None:
    """Write every input set for `seed` under `dest` (which must not exist).
    Each part draws from its own generator seeded by (seed, part), so the
    parts are independent of each other and of generation order."""
    for name, fn in _PARTS.items():
        sub = int.from_bytes(hashlib.sha256(f"{seed}:{name}".encode()).digest()[:8], "big")
        fn(random.Random(sub), os.path.join(dest, name))


def ensure_inputs(cache_root: str, seed: int) -> str:
    """Return the input directory for `seed`, generating it on first use."""
    final = os.path.join(cache_root, f"v{VERSION}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        generate(seed, tmp)
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):  # lost a race to another generator: fine
            raise
    return final


def digest(root: str) -> str:
    """sha256 over every file's relative path and bytes (determinism test)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for fn in sorted(filenames):
            p = os.path.join(dirpath, fn)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
