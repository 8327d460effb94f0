"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and writes only under the
directory it is given; the same seed gives byte-identical files (and, for
the post lake, identical modification times, because the streaming source
orders files by mtime).

- ``make_lake``: an Instagram-shaped post and stats lake in the layout
  ``posts/<user_id>/<post_id>.json`` and ``stats/<user_id>/<date>.json``.
  It covers the five media types across the Basic and Business tiers, the
  Basic-tier follower sentinel (no ``owner.followers_count``), blank
  strings, epoch-millis ``created_at`` values, stats days written out of
  order, one corrupt post file, and re-deliveries of exactly a quarter of
  the posts with later timestamps and higher metrics, which arrive (by
  mtime) after every original post. File counts depend
  only on the sizes, so every seed asks for the same amount of work.
- ``make_staging_color``: the pre-computed ``staging_color`` parquet table
  that the history build joins in.

The image store is generated by the Scala harness (``ImageGen``) with
ImageIO, the decoder the engine itself uses, so no Python image library
is needed.
"""

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The lake's "now": the history rollup's trailing window ends here.
NOW = dt.datetime(2024, 3, 31, 0, 0, 0)
NOW_SQL = "2024-03-31 00:00:00"
# Base of the arrival-order mtimes (2024-03-31T00:00:00Z).
MTIME_BASE = 1711843200

WORDS = ("spark", "query", "window", "stream", "batch", "table", "join",
         "vector", "filter", "group", "sort", "hash", "scan", "merge", "data",
         "row", "column", "key", "value", "fast", "slow", "big", "small",
         "line", "part", "order", "agg", "customer", "the", "a")
TAGS = ("travel", "food", "fitness", "style", "tech", "music", "art",
        "nature", "coffee", "books", "sport", "pets")
MEDIA = ("IMAGE", "CAROUSEL_ALBUM", "VIDEO", "STORY_IMAGE", "STORY_VIDEO")


def user_ids(n_users):
    return [str(17841400000000000 + 1000 * i + 7) for i in range(n_users)]


def user_name(i):
    return f"user{i:04d}"


def _ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S+0000")


def _post(rng, uid, ui, business, pid, media, t, bump):
    """One post document; `bump` > 0 makes the re-delivered version."""
    mentions = sorted(rng.sample(range(40), rng.randint(0, 2)))
    tags = sorted(rng.sample(TAGS, rng.randint(0, 3)))
    words = [rng.choice(WORDS) for _ in range(rng.randint(3, 12))]
    caption = " ".join(words + ["#" + x for x in tags] + ["@" + user_name(m) for m in mentions])
    if rng.random() < 0.05:
        caption = ""  # blank string
    doc = {
        "caption": caption,
        "id": int(pid) if rng.random() < 0.3 else pid,  # some tiers send a number
        "ig_id": str(int(pid) // 7),
        "is_comment_enabled": rng.random() < 0.9,
        "media_type": "IMAGE" if media == "STORY_IMAGE" else
                      "VIDEO" if media == "STORY_VIDEO" else media,
        "permalink": f"https://www.instagram.com/p/{pid[-8:]}/",
        "shortcode": pid[-8:],
        "timestamp": _ts(t),
        "username": user_name(ui),
        "mentioned_users": ", ".join(user_name(m) for m in mentions),
        "hashtags": ", ".join(tags) if tags else " ",
        "owner": {"id": uid, "username": user_name(ui)},
    }
    if business:
        doc["owner"]["followers_count"] = 1000 + 37 * ui + bump
    if media != "STORY_VIDEO":
        ext = "mp4" if media == "VIDEO" else "jpg"
        doc["media_url"] = f"https://cdn.example.net/v/{pid}.{ext}?_nc_ht=cdn&oh={rng.randint(0, 1 << 30):x}"
    if media in ("IMAGE", "CAROUSEL_ALBUM", "VIDEO"):
        doc["like_count"] = rng.randint(0, 500) + 40 * bump
        doc["comments_count"] = rng.randint(0, 40) + bump
        doc["comments"] = {"data": [{"like_count": rng.randint(0, 9), "id": f"{pid}{c}"}
                                    for c in range(rng.randint(0, 3))]}
    if media == "CAROUSEL_ALBUM":
        doc["children"] = {"data": [
            {"id": f"{pid}0{c}", "media_type": "IMAGE",
             "media_url": f"https://cdn.example.net/v/{pid}0{c}.jpg?_nc_ht=cdn"}
            for c in range(3)]}
    if media == "VIDEO":
        doc["views"] = rng.randint(0, 5000) + 100 * bump
        doc["thumbnail_url"] = f"https://cdn.example.net/t/{pid}.jpg"
    if media.startswith("STORY"):
        doc["sticker_taps"] = rng.randint(0, 20)
        doc["tap_backs"] = rng.randint(0, 20)
        doc["swipe_ups"] = rng.randint(0, 20)
        if media == "STORY_VIDEO":
            doc["thumbnail_url"] = f"https://cdn.example.net/t/{pid}.jpg"
    if business:
        doc["impressions"] = rng.randint(100, 9000) + 300 * bump
        doc["reach"] = rng.randint(50, 5000) + 200 * bump
        doc["engagement"] = rng.randint(0, 900) + 50 * bump
        doc["saved"] = rng.randint(0, 60)
        if media == "VIDEO":
            doc["video_view"] = rng.randint(0, 4000)
    return doc


def _stats(rng, uid, ui, business, day, d):
    followers = 500 + 11 * ui + 3 * d + rng.randint(0, 5)
    doc = {
        "created_at": day.strftime("%Y-%m-%d"),
        "biography": "" if rng.random() < 0.2 else "ambassador " + user_name(ui),
        "id": uid,
        "ig_id": 9000000 + ui,
        "followers_count": followers,
        "follows_count": 100 + rng.randint(0, 50),
        "media_count": 20 + d,
        "name": "  " if rng.random() < 0.1 else f"User {ui}",
        "profile_picture_url": f"https://cdn.example.net/p/{uid}.jpg",
        "username": user_name(ui),
    }
    if rng.random() < 0.15:
        # epoch-millis day stamp, as some deliveries carry it
        epoch = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
        doc["created_at"] = int(epoch.timestamp() * 1000)
    if business:
        doc.update({
            "website": "" if rng.random() < 0.3 else f"https://{user_name(ui)}.example.com",
            "impressions": rng.randint(1000, 20000),
            "reach": rng.randint(500, 15000),
            "follower_count": rng.randint(0, 40),
            "email_contacts": rng.randint(0, 5),
            "phone_call_clicks": rng.randint(0, 5),
            "text_message_clicks": rng.randint(0, 5),
            "get_directions_clicks": rng.randint(0, 5),
            "website_clicks": rng.randint(0, 30),
            "profile_views": rng.randint(0, 300),
        })
    return doc


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def make_lake(root, seed, n_users, posts_per_user, days, stats=True):
    """Write the post lake (and the stats lake when `stats`) under `root`.

    Returns the number of post files written, the corrupt one included."""
    rng = random.Random(seed)
    # exactly a quarter of the posts is re-delivered, which ones by seed
    n_posts = n_users * posts_per_user
    redelivered = set(rng.sample(range(n_posts), n_posts // 4))
    # (post time, path, text); the re-deliveries and the corrupt file arrive
    # after every original, as the next day's refresh of recent posts does
    originals, late = [], []
    for ui, uid in enumerate(user_ids(n_users)):
        business = ui % 3 != 0  # a third of the users are Basic tier
        for p in range(posts_per_user):
            pid = str(17900000000000000 + 100000 * ui + 10 * p + (seed % 7))
            media = MEDIA[(ui + p) % len(MEDIA)]
            age = dt.timedelta(days=rng.uniform(0.5, 90))
            t = NOW - age
            t = t.replace(microsecond=0)
            base = f"{root}/posts/{uid}/{pid}"
            doc = _post(rng, uid, ui, business, pid, media, t, 0)
            originals.append((t, base + ".json", json.dumps(doc)))
            if ui * posts_per_user + p in redelivered:
                t2 = min(t + dt.timedelta(hours=rng.randint(2, 72)), NOW)
                upd = _post(random.Random(f"{seed}:{pid}"), uid, ui, business, pid, media, t2, 1)
                late.append((t2, base + "_r1.json", json.dumps(upd)))
    # one corrupt post: a truncated document
    bad_uid = user_ids(n_users)[0]
    late.append((NOW - dt.timedelta(days=1), f"{root}/posts/{bad_uid}/corrupt.json",
                 '{"id": "1", "caption": "trunc'))
    arrivals = sorted(originals) + sorted(late)
    for i, (_, path, text) in enumerate(arrivals):
        _write(path, text + "\n")
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
    if stats:
        first = NOW.date() - dt.timedelta(days=days)
        for ui, uid in enumerate(user_ids(n_users)):
            business = ui % 3 != 0
            order = list(range(days))
            rng.shuffle(order)  # delivered out of order
            for d in order:
                day = first + dt.timedelta(days=d)
                doc = _stats(rng, uid, ui, business, day, d)
                path = f"{root}/stats/{uid}/{day.isoformat()}.json"
                _write(path, json.dumps(doc) + "\n")
                os.utime(path, (MTIME_BASE, MTIME_BASE))
    return len(arrivals)


def make_staging_color(path, seed, n_users):
    """The weekly palette job's output table, one palette per user."""
    rng = random.Random(f"color:{seed}")
    rows = []
    for uid in user_ids(n_users):
        shares = sorted((rng.random() for _ in range(6)), reverse=True)
        total = sum(shares)
        buckets = []
        for s in shares:
            r, g, b = rng.randrange(256), rng.randrange(256), rng.randrange(256)
            buckets.append('{"percentage":%s,"red":%d,"green":%d,"blue":%d,"hex":"#%02x%02x%02x"}'
                           % (repr(round(s / total, 6)), r, g, b, r, g, b))
        rows.append((uid, "[" + ",".join(buckets) + "]"))
    table = pa.table({"igId": [r[0] for r in rows], "colors": [r[1] for r in rows]})
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-00000.parquet")
