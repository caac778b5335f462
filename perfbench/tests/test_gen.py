import hashlib
import os
import unittest

from tests.util import workdir
import gen


def digest(d):
    """Digest of every input file under `d`, by relative path."""
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(root, n)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    """Same seed -> byte-identical inputs; another seed -> other inputs."""

    def check(self, workload):
        a, b, c = (workdir("%s-%s" % (workload, x)) for x in "abc")
        gen.generate(workload, 7, a)
        gen.generate(workload, 7, b)
        gen.generate(workload, 8, c)
        # the manifest names its own directory; compare everything else
        for d in (a, b, c):
            os.remove(os.path.join(d, "manifest.json"))
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_search_serving(self):
        self.check("search_serving")

    def test_asset_etl(self):
        self.check("asset_etl")

    def test_asset_sync(self):
        self.check("asset_sync")

    def test_library_mix(self):
        self.check("library_mix")

    def test_search_requests_are_distinct(self):
        d = workdir("search-distinct")
        gen.generate("search_serving", 3, d)
        import json
        with open(os.path.join(d, "requests.json")) as f:
            bodies = [r["body"] for r in json.load(f)]
        self.assertEqual(len(bodies), len(set(bodies)))


if __name__ == "__main__":
    unittest.main()
