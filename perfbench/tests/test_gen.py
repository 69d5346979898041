"""The generator is deterministic per seed and keeps every cleanse branch live."""

import glob
import json
import os

import gen


def _load(root, table):
    rows = []
    for p in sorted(glob.glob(f"{root}/social/{table}/*/*/*.json")):
        with open(p, encoding="utf-8") as f:
            rows.extend(json.load(f))
    return rows


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), 7)
    b = gen.ensure_inputs(str(tmp_path / "b"), 7)
    c = gen.ensure_inputs(str(tmp_path / "c"), 8)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    # a second call reuses the cache instead of regenerating
    assert gen.ensure_inputs(str(tmp_path / "a"), 7) == a
    assert not [p for p in os.listdir(tmp_path / "a") if ".tmp" in p]


def test_every_cleanse_branch_is_live(tmp_path):
    root = gen.ensure_inputs(str(tmp_path), 3)
    tweets = _load(root, "tweets")
    posts = _load(root, "reddit_posts")
    comments = _load(root, "reddit_comments")
    contents = [r["content"] for r in tweets + posts + comments]
    users = [r["username"] for r in tweets + posts + comments]
    assert any(c in ("", "[deleted]", "[removed]") for c in contents)  # sentinels
    assert any(u in ("", "None") for u in users)
    assert any(u == "AutoModerator" for u in users)  # bots
    assert any(len(c) > 1000 for c in contents)  # length guard
    assert any(any(t in c.lower() for t in gen.BLOCKLIST) for c in contents)
    null_share = sum(r["mentionedUsers"] is None for r in tweets) / len(tweets)
    assert 0.5 < null_share < 0.7
    assert any(any("Ѐ" <= ch <= "ӿ" for ch in c) for c in contents)  # Cyrillic
    assert any(any("一" <= ch <= "鿿" for ch in c) for c in contents)  # CJK
    ids = [r["id"] for r in tweets]
    assert len(ids) > len(set(ids))  # re-scraped duplicates
    assert any(r["date"][:10] != gen.DAY_ISO for r in tweets)  # late rows
    assert any(not isinstance(r["followersCount"], int) for r in tweets)  # drift
    post_ids = {r["id"] for r in posts}
    assert any(r["post_id"] not in post_ids for r in comments)  # orphans
    assert any(r["parent_id"].startswith("t1_") for r in comments)  # reply trees
