"""The generators are deterministic per seed and differ across seeds."""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def fingerprint(root, mtimes=True):
    """Every file's relative path and bytes, and its mtime when asked."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
            if mtimes:
                h.update(str(int(os.stat(p).st_mtime)).encode())
    return h.hexdigest()


def generate_all(root, seed):
    gen.make_lake(os.path.join(root, "lake"), seed, n_users=6, posts_per_user=5, days=4)
    gen.make_staging_color(os.path.join(root, "staging_color"), seed, 6)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, "tmp"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "tmp"))

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_bytes_other_seed_differs(self):
        a, b, c = (os.path.join(self.tmp.name, x) for x in "abc")
        generate_all(a, 5)
        generate_all(b, 5)
        generate_all(c, 6)
        for part in ("lake", "staging_color"):
            self.assertEqual(fingerprint(os.path.join(a, part)), fingerprint(os.path.join(b, part)), part)
            self.assertNotEqual(fingerprint(os.path.join(a, part)), fingerprint(os.path.join(c, part)), part)

    def test_lake_covers_the_variant_matrix(self):
        root = os.path.join(self.tmp.name, "lake")
        gen.make_lake(root, 3, n_users=6, posts_per_user=10, days=6)
        posts, names = [], []
        for d, _, files in os.walk(os.path.join(root, "posts")):
            for f in files:
                names.append(f)
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    text = fh.read()
                try:
                    posts.append(json.loads(text))
                except ValueError:
                    posts.append(None)
        self.assertEqual(posts.count(None), 1, "exactly one corrupt post")
        good = [p for p in posts if p]
        self.assertEqual({p["media_type"] for p in good}, {"IMAGE", "CAROUSEL_ALBUM", "VIDEO"})
        self.assertTrue(any("sticker_taps" in p for p in good), "stories")
        self.assertTrue(any("followers_count" not in p["owner"] for p in good), "Basic tier")
        self.assertTrue(any("followers_count" in p["owner"] for p in good), "Business tier")
        self.assertTrue(any(p["caption"] == "" for p in good), "blank strings")
        self.assertTrue(any(n.endswith("_r1.json") for n in names), "re-deliveries")
        stats = []
        for d, _, files in os.walk(os.path.join(root, "stats")):
            for f in files:
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    stats.append(json.load(fh))
        self.assertTrue(any(isinstance(s["created_at"], int) for s in stats), "epoch-millis days")

    def test_redeliveries_arrive_after_every_original(self):
        root = os.path.join(self.tmp.name, "lake")
        gen.make_lake(root, 4, n_users=5, posts_per_user=8, days=1, stats=False)
        late, originals = [], []
        for d, _, files in os.walk(os.path.join(root, "posts")):
            for f in files:
                mtime = os.stat(os.path.join(d, f)).st_mtime
                (late if f.endswith("_r1.json") or f == "corrupt.json" else originals).append(mtime)
        self.assertEqual(len(late), 10 + 1)
        self.assertLess(max(originals), min(late))

    @unittest.skipUnless(os.path.exists(os.path.join(ROOT, ".bench_build", "perfbench", "classpath.json")),
                         "the harness is not built yet (run perfbench/run.py once)")
    def test_image_store_is_deterministic(self):
        with open(os.path.join(ROOT, ".bench_build", "perfbench", "classpath.json"), encoding="utf-8") as f:
            cp = json.load(f)["classpath"]
        prints = []
        for name, seed in (("a", 9), ("b", 9), ("c", 10)):
            d = os.path.join(self.tmp.name, name)
            subprocess.run(["java", "-cp", cp, "perfbench.ImageGen", d, str(seed), "5", "20"], check=True)
            prints.append(fingerprint(d, mtimes=False))
        self.assertEqual(prints[0], prints[1])
        self.assertNotEqual(prints[0], prints[2])


if __name__ == "__main__":
    unittest.main()
