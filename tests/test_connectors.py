"""Concrete connector wrappers (connectors.py): record-shape parity with
the reference's landing format, window/skip semantics through the real
fetch_topics seam, and the neo4j transport's transient mapping — all
with faked clients (none of praw/snscrape/neo4j is installed here; that
absence is itself under test via the import guards).

The landing records are inline fixtures built from the reference's field
lists (SURVEY.md §1.2, FIXTURES.md §1-3); the round-trip over the
reference's own committed dumps runs as an extra check when a reference
checkout is present."""

from __future__ import annotations

import json
import os
import sys
import types
from datetime import datetime
from types import SimpleNamespace

import pytest

from reddit_twitter_big_data_pipeline_spark import connectors, schemas
from reddit_twitter_big_data_pipeline_spark.sinks.graph_sink import TransientSinkError
from reddit_twitter_big_data_pipeline_spark.sources import ingest

_REF = "/root/reference"
_POSTS_DUMP = f"{_REF}/reddit/development/reddit_posts_dump3.json"
_COMMENTS_DUMP = f"{_REF}/reddit/development/reddit_comments_dump3.json"
_TWEETS_DUMP = f"{_REF}/neo4j_insert/twitter_dump.json"

# reddit/lambda_function.py:46-55 — field order and P1 casts; link posts
# carry "" content, removed ones "[deleted]"
_POSTS = [
    {
        "id": "11yav43", "date": "2023-03-22 18:04:11",
        "title": "Drone footage from the front near Bakhmut",
        "content": "", "username": "CookPass", "commentCount": 41,
        "score": 812, "subreddit": "UkraineWarVideoReport",
    },
    {
        "id": "11z0k2p", "date": "2023-03-23 07:45:59",
        "title": "Daily discussion thread", "content": "[deleted]",
        "username": "AutoModerator", "commentCount": 3, "score": 1,
        "subreddit": "ukraine",
    },
    {
        "id": "1218ymv", "date": "2023-03-25 03:21:42",
        "title": "Grain deal extended, what changes?",
        "content": "Reading the terms, the corridor stays open for 60 days.",
        "username": "kyiv_notes", "commentCount": 0, "score": 17,
        "subreddit": "worldnews",
    },
]
# reddit/lambda_function.py:62-70 — a top-level comment (t3_) and a reply
# (t1_) under the first post
_COMMENTS = [
    {
        "id": "jdkvz99", "date": "2023-03-22 18:30:02",
        "content": "Incredible footage, stay safe.", "username": "Imaginary_Ad",
        "score": 25, "post_id": "11yav43", "parent_id": "t3_11yav43",
    },
    {
        "id": "jdkw1ab", "date": "2023-03-22 18:41:37", "content": "Agreed.",
        "username": "CookPass", "score": -2, "post_id": "11yav43",
        "parent_id": "t1_jdkvz99",
    },
]
# twitter/lambda_function.py:30-41 — raw long id, comma-joined mentions,
# nullable mentions/reply target
_TWEETS = [
    {
        "id": 1635322899233112064, "date": "2023-03-13 16:52:16",
        "content": "@CoinDesk @amitoj the ukraine war is moving markets again",
        "username": "UlfaniaEda", "followersCount": 1520,
        "mentionedUsers": "CoinDesk,amitoj", "retweetCount": 4,
        "replyCount": 1, "inReplyToUser": "CoinDesk",
        "timeStamp": "2023-03-13 16:45:00",
    },
    {
        "id": 1635323001234567168, "date": "2023-03-13 16:53:02",
        "content": "No peace talks this week.", "username": "newsdesk_eu",
        "followersCount": 0, "mentionedUsers": None, "retweetCount": 0,
        "replyCount": 0, "inReplyToUser": None,
        "timeStamp": "2023-03-13 16:45:00",
    },
]


def _ts(date_str: str) -> float:
    # invert the reference's str(datetime.fromtimestamp(...)) rendering
    return datetime.fromisoformat(date_str).timestamp()


def _fake_post_from(rec: dict, created_utc: float | None = None):
    return SimpleNamespace(
        id=rec["id"],
        created_utc=_ts(rec["date"]) if created_utc is None else created_utc,
        title=rec["title"],
        selftext=rec["content"],
        author=rec["username"],
        num_comments=rec["commentCount"],
        score=rec["score"],
        subreddit=rec["subreddit"],
    )


def _fake_comment_from(rec: dict):
    return SimpleNamespace(
        id=rec["id"],
        created_utc=_ts(rec["date"]),
        body=rec["content"],
        author=SimpleNamespace(name=rec["username"]),
        score=rec["score"],
        parent_id=rec["parent_id"],
    )


def _assert_praw_round_trip(posts, comments):
    for rec in posts:
        got = connectors.praw_post_record(_fake_post_from(rec))
        assert got == rec
        assert list(got) == list(rec)
        assert [type(v) for v in got.values()] == [type(v) for v in rec.values()]
    for rec in comments:
        got = connectors.praw_comment_record(_fake_comment_from(rec), rec["post_id"])
        assert got == rec
        assert list(got) == list(rec)


def _assert_snscrape_round_trip(tweets):
    for rec in tweets:
        fake = SimpleNamespace(
            id=rec["id"],
            date=datetime.fromisoformat(rec["date"]),
            rawContent=rec["content"],
            user=SimpleNamespace(
                username=rec["username"], followersCount=rec["followersCount"]
            ),
            mentionedUsers=(
                [SimpleNamespace(username=u) for u in rec["mentionedUsers"].split(",")]
                if rec["mentionedUsers"]
                else None
            ),
            retweetCount=rec["retweetCount"],
            replyCount=rec["replyCount"],
            inReplyToUser=(
                SimpleNamespace(username=rec["inReplyToUser"])
                if rec["inReplyToUser"]
                else None
            ),
        )
        got = connectors.snscrape_tweet_record(fake, "2023-03-13 17:00:00")
        want = dict(rec, timeStamp="2023-03-13 17:00:00")
        assert got == want
        assert list(got) == list(want)


def test_praw_record_shapes_match_reference_dumps():
    """Round-trip parity: a fake praw object built FROM a landing record
    shapes back to EXACTLY that record (keys, order, values, types) —
    pinning the field list and the P1 casts."""
    _assert_praw_round_trip(_POSTS, _COMMENTS)


def test_snscrape_record_shape_matches_reference_dump():
    _assert_snscrape_round_trip(_TWEETS)


def test_record_shapes_round_trip_the_reference_dumps():
    """The same parity against the reference's own committed landing
    files, when a reference checkout is present."""
    dumps = (_POSTS_DUMP, _COMMENTS_DUMP, _TWEETS_DUMP)
    missing = [p for p in dumps if not os.path.exists(p)]
    if missing:
        pytest.skip(f"reference dumps not present: {missing}")
    posts, comments, tweets = (json.load(open(p))[:5] for p in dumps)
    _assert_praw_round_trip(posts, comments)
    _assert_snscrape_round_trip(tweets)


def _make_fake_reddit(posts, comments_by_post):
    """Minimal praw.Reddit twin: search returns canned posts,
    submission(id) returns canned comment trees. Defined as LOCAL
    classes so cloudpickle ships them by value to Spark workers (a
    module-level test class is pickled by reference and the test module
    is not importable executor-side)."""

    class _FakeComments:
        def __init__(self, items):
            self._items = items

        def replace_more(self, limit):
            pass

        def list(self):
            return self._items

    class _FakeReddit:
        def __init__(self):
            self.search_calls = []

        def subreddit(self, name):
            outer = self

            class _Sub:
                def search(self, query, sort, time_filter):
                    outer.search_calls.append((query, sort, time_filter))
                    return list(posts)

            return _Sub()

        def submission(self, id):
            return SimpleNamespace(comments=_FakeComments(comments_by_post.get(id, [])))

    return _FakeReddit()


def _fixture_reddit():
    posts, comments = _POSTS, _COMMENTS
    # give the middle post an out-of-window timestamp; attach the first
    # post's comments plus an AutoModerator one
    fakes = [
        _fake_post_from(posts[0], created_utc=_ts("2023-03-25 12:00:00")),
        _fake_post_from(posts[1], created_utc=_ts("2023-03-20 12:00:00")),  # early
        _fake_post_from(posts[2], created_utc=_ts("2023-03-25 13:00:00")),
    ]
    tree = [_fake_comment_from(c) for c in comments[:2] if c["post_id"] == posts[0]["id"]]
    bot = SimpleNamespace(
        id="bot1",
        created_utc=_ts("2023-03-25 12:30:00"),
        body="I am a bot",
        author="AutoModerator",  # str(author) == the skip key
        score=1,
        parent_id=f"t3_{posts[0]['id']}",
    )
    deleted = SimpleNamespace(
        id="del1",
        created_utc=_ts("2023-03-25 12:31:00"),
        body="[removed]",
        author=None,  # deleted comment: author.name would AttributeError
        score=0,
        parent_id=f"t3_{posts[0]['id']}",
    )
    return _make_fake_reddit(fakes, {posts[0]["id"]: tree + [bot, deleted]}), posts


def test_praw_fetch_window_modes_and_bot_skip():
    reddit, posts = _fixture_reddit()
    fetch = connectors.praw_fetch_factory(lambda: reddit, what="both")()
    recs = fetch("ukraine", "2023-03-25 00:00:00", "2023-03-25 23:59:59")
    post_ids = [r["id"] for r in recs if "title" in r]
    comment_ids = [r["id"] for r in recs if "post_id" in r]
    assert post_ids == [posts[0]["id"], posts[2]["id"]]  # middle post out of window
    # dump comments for post 0 kept; AutoModerator skipped; the deleted
    # comment (author=None) skipped instead of AttributeError-ing the task
    assert comment_ids and "bot1" not in comment_ids and "del1" not in comment_ids
    assert reddit.search_calls == [("ukraine", "new", "week")]
    # posts-only mode emits no comment records
    fetch_p = connectors.praw_fetch_factory(lambda: reddit, what="posts")()
    recs_p = fetch_p("ukraine", "2023-03-25 00:00:00", "2023-03-25 23:59:59")
    assert all("title" in r for r in recs_p)
    with pytest.raises(ValueError, match="what"):
        connectors.praw_fetch_factory(lambda: reddit, what="everything")


def test_praw_fetch_through_fetch_topics_parses_with_landing_schema(spark):
    """End-to-end through the real distributed seam: fetch_topics with
    the praw wrapper as its transport, parsed by the S7 landing schema —
    the wrapper's records ARE the reference landing format."""
    reddit, posts = _fixture_reddit()
    raw = ingest.fetch_topics(
        spark,
        ["ukraine"],
        connectors.praw_fetch_factory(lambda: reddit, what="posts"),
        "2023-03-25 00:00:00",
        "2023-03-25 23:59:59",
        api_slots=1,
    )
    parsed = ingest.parse_payload(raw, schemas.REDDIT_POSTS)
    rows = {r.id: r for r in parsed.collect()}
    assert set(rows) == {posts[0]["id"], posts[2]["id"]}
    assert rows[posts[0]["id"]].subreddit == posts[0]["subreddit"]
    assert rows[posts[0]["id"]].score == posts[0]["score"]


def test_snscrape_fetch_builds_reference_query():
    seen = []

    def scraper_factory(q):
        seen.append(q)
        return SimpleNamespace(get_items=lambda: iter(()))

    fetch = connectors.snscrape_fetch_factory(
        "2023-03-13 17:00:00", scraper_factory=scraper_factory
    )()
    assert fetch("ukraine war", "2023-03-12", "2023-03-13") == []
    assert seen == ["ukraine war since:2023-03-12 until:2023-03-13"]


# ------------------------------------------------------------- neo4j


class _FakeTx:
    def __init__(self, log):
        self._log = log

    def run(self, statement, **params):
        self._log.append((statement, params))
        return SimpleNamespace(consume=lambda: None)


class _FakeSession:
    def __init__(self, log, fail_with=None):
        self._log = log
        self._fail = fail_with

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def execute_write(self, fn):
        if self._fail is not None:
            raise self._fail
        return fn(_FakeTx(self._log))


@pytest.fixture
def fake_neo4j(monkeypatch):
    state = {"log": [], "fail_with": None, "driver_args": []}

    class _FakeDriver:
        def session(self, database):
            state["db"] = database
            return _FakeSession(state["log"], state["fail_with"])

    class _ServiceUnavailable(Exception):
        pass

    pkg = types.ModuleType("neo4j")
    pkg.GraphDatabase = SimpleNamespace(
        driver=lambda uri, auth: (state["driver_args"].append((uri, auth)), _FakeDriver())[1]
    )
    exc = types.ModuleType("neo4j.exceptions")
    exc.ServiceUnavailable = _ServiceUnavailable
    pkg.exceptions = exc
    monkeypatch.setitem(sys.modules, "neo4j", pkg)
    monkeypatch.setitem(sys.modules, "neo4j.exceptions", exc)
    state["ServiceUnavailable"] = _ServiceUnavailable
    yield state


def test_neo4j_transport_runs_managed_write(fake_neo4j):
    send = connectors.neo4j_transport_factory(
        "bolt://db:7687", "neo4j", "pw", database="graphdb"
    )()
    rows = [{"node_id": "p1", "props": {"score": 1}}]
    send("UNWIND $rows AS row MERGE (n:Post {id: row.node_id})", rows)
    assert fake_neo4j["driver_args"] == [("bolt://db:7687", ("neo4j", "pw"))]
    assert fake_neo4j["db"] == "graphdb"
    assert fake_neo4j["log"] == [
        ("UNWIND $rows AS row MERGE (n:Post {id: row.node_id})", {"rows": rows})
    ]


def test_neo4j_driver_memoized_per_process(fake_neo4j):
    """write_graph calls the factory once PER PARTITION and Spark reuses
    Python workers across tasks — the bolt driver (a connection pool)
    must be built once per (GraphDatabase, uri, user, password), not per
    partition, or a long job leaks hundreds of open pools."""
    fac = connectors.neo4j_transport_factory("bolt://pool:7687", "u", "pw")
    send1, send2 = fac(), fac()  # two "partitions"
    send1("UNWIND $rows AS row RETURN row", [])
    send2("UNWIND $rows AS row RETURN row", [])
    assert fake_neo4j["driver_args"] == [("bolt://pool:7687", ("u", "pw"))]
    # different credentials/uri → a distinct driver
    connectors.neo4j_transport_factory("bolt://other", "u", "pw")()
    assert len(fake_neo4j["driver_args"]) == 2


def test_neo4j_transport_maps_transient_errors(fake_neo4j):
    send = connectors.neo4j_transport_factory("bolt://db", "u", "p")()
    fake_neo4j["fail_with"] = fake_neo4j["ServiceUnavailable"]("leader switch")
    with pytest.raises(TransientSinkError, match="leader switch"):
        send("UNWIND $rows AS row RETURN row", [])
    fake_neo4j["fail_with"] = RuntimeError("constraint violation")
    with pytest.raises(RuntimeError, match="constraint"):  # NOT wrapped
        send("UNWIND $rows AS row RETURN row", [])


def test_import_guard_names_the_missing_dependency():
    assert "praw" not in sys.modules
    with pytest.raises(ImportError, match="pip install praw"):
        connectors.praw_reddit_factory("cid", "sec", "ua")()
    with pytest.raises(ImportError, match="pip install neo4j"):
        connectors.neo4j_transport_factory("bolt://x", "u", "p")()
    with pytest.raises(ImportError, match="pip install snscrape"):
        connectors.snscrape_fetch_factory("2023-01-01 00:00:00")()


# ------------------------------------- deep_translator (U1) / boto3 (U2)


@pytest.fixture
def fake_deep_translator(monkeypatch):
    state = {"built": [], "fail_on": set()}

    class _TooManyRequests(Exception):
        pass

    class _NotValidPayload(Exception):
        pass

    class _GoogleTranslator:
        def __init__(self, source, target):
            state["built"].append((source, target))

        def translate(self, text):
            if text in state["fail_on"]:
                raise _TooManyRequests("throttled")
            if not text:  # the real lib rejects empties
                raise _NotValidPayload(text)
            return f"EN:{text}"

    pkg = types.ModuleType("deep_translator")
    pkg.GoogleTranslator = _GoogleTranslator
    exc = types.ModuleType("deep_translator.exceptions")
    exc.TooManyRequests = _TooManyRequests
    exc.NotValidPayload = _NotValidPayload
    pkg.exceptions = exc
    monkeypatch.setitem(sys.modules, "deep_translator", pkg)
    monkeypatch.setitem(sys.modules, "deep_translator.exceptions", exc)
    state["TooManyRequests"] = _TooManyRequests
    return state


def test_google_translate_backend_rowwise_with_empty_passthrough(fake_deep_translator):
    import pandas as pd

    backend = connectors.google_translate_backend(source="auto", target="en")
    got = backend(pd.Series(["guerra", None, "", "paz"], index=[7, 8, 9, 10]))
    assert list(got) == ["EN:guerra", None, "", "EN:paz"]
    assert list(got.index) == [7, 8, 9, 10]  # index-aligned, like every backend
    assert fake_deep_translator["built"] == [("auto", "en")]


def test_google_translate_backend_maps_throttle_and_salvages(fake_deep_translator):
    import pandas as pd

    from reddit_twitter_big_data_pipeline_spark.functions.enrich import (
        TransientEnrichError,
        retrying_backend,
    )

    fake_deep_translator["fail_on"] = {"poison"}
    backend = connectors.google_translate_backend()
    with pytest.raises(TransientEnrichError, match="throttled"):
        backend(pd.Series(["poison"]))
    # composed with the engine's retry wrapper: the poison row nulls out,
    # the rest of the batch keeps real values (the reference's "" sentinel
    # scrub, done right)
    wrapped = retrying_backend(backend, max_retries=1, sleep=lambda s: None)
    got = wrapped(pd.Series(["ok", "poison", "also ok"]))
    assert list(got) == ["EN:ok", None, "EN:also ok"]


class _FakeComprehend:
    def __init__(self, error_indexes=(), throttle_batches=()):
        self.batches = []
        self._err = set(error_indexes)  # WITHIN-batch indexes to reject
        self._throttle = set(throttle_batches)

    def batch_detect_sentiment(self, TextList, LanguageCode):
        n = len(self.batches)
        self.batches.append((list(TextList), LanguageCode))
        if n in self._throttle:
            ex = Exception("slow down")
            ex.response = {"Error": {"Code": "ThrottlingException"}}
            raise ex
        result, errors = [], []
        for i, t in enumerate(TextList):
            if i in self._err:
                errors.append({"Index": i, "ErrorCode": "UNSUPPORTED_LANGUAGE"})
            else:
                v = (len(t) % 10) / 10.0
                result.append(
                    {"Index": i, "SentimentScore": {
                        "Positive": v, "Negative": 1 - v, "Neutral": 0.0, "Mixed": 0.0}}
                )
        result.reverse()  # ResultList order is NOT positional — Index is
        return {"ResultList": result, "ErrorList": errors}


def test_comprehend_backend_batches_aligns_and_truncates():
    import math

    import pandas as pd

    client = _FakeComprehend()
    backend = connectors.comprehend_sentiment_backend(client_factory=lambda: client)
    texts = pd.Series([f"d{i:03d}" * (1 + i % 3) for i in range(52)] + ["x" * 6000])
    got = backend(texts)
    # 53 docs -> 25/25/3 (the reference's i*len(batch) offset would
    # misplace every last-batch row; ours must not)
    assert [len(b[0]) for b in client.batches] == [25, 25, 3]
    assert list(got.columns) == ["Positive", "Negative", "Neutral", "Mixed"]
    assert len(got) == 53 and not got.isna().any().any()
    # alignment survives the reversed ResultList: row i scored from doc i
    for i in (0, 24, 25, 49, 50, 51):
        assert got.iloc[i]["Positive"] == (len(texts[i]) % 10) / 10.0, i
    # the 6000-char doc was truncated to the 4500-char service guard
    assert len(client.batches[2][0][-1]) == 4500
    assert math.isclose(got.iloc[52]["Positive"], (4500 % 10) / 10.0)


def test_comprehend_backend_errorlist_rows_become_nan_not_shifts():
    import pandas as pd

    client = _FakeComprehend(error_indexes={1})
    backend = connectors.comprehend_sentiment_backend(client_factory=lambda: client)
    got = backend(pd.Series(["aa", "bb", "cccc"]))
    assert got.iloc[1].isna().all()  # rejected doc -> NaN row IN PLACE
    # neighbors keep their own scores (the reference silently dropped the
    # row, shifting every later positional zip)
    assert got.iloc[0]["Positive"] == 0.2 and got.iloc[2]["Positive"] == 0.4


def test_comprehend_backend_maps_throttle_to_transient():
    import pandas as pd

    from reddit_twitter_big_data_pipeline_spark.functions.enrich import (
        TransientEnrichError,
    )

    client = _FakeComprehend(throttle_batches={0})
    backend = connectors.comprehend_sentiment_backend(client_factory=lambda: client)
    with pytest.raises(TransientEnrichError, match="slow down"):
        backend(pd.Series(["a"]))
