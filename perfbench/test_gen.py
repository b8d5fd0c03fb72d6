"""Generator tests: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import hashlib
import os
import struct
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(work):
    h = hashlib.sha256()
    data = os.path.join(work, "data")
    for name in sorted(os.listdir(data)):
        with open(os.path.join(data, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def walk(blob, framed):
    """Independent packet walk: APID counts and the u16a sum per APID."""
    counts, sums, pos = {}, {}, 0
    while pos < len(blob):
        if framed:
            assert blob[pos:pos + 4] == gen.SYNC
            pos += 4
        w0, _, dlen = struct.unpack_from(">HHH", blob, pos)
        apid = w0 & 0x7FF
        counts[apid] = counts.get(apid, 0) + 1
        u16a = struct.unpack_from(">H", blob, pos + 6 + gen.SEC_HDR)[0]
        sums[apid] = sums.get(apid, 0) + u16a
        pos += 6 + dlen + 1
    return counts, sums


class GeneratorTest(unittest.TestCase):

    def run_gen(self, layout, seed, packets=3000, passes=3):
        work = tempfile.mkdtemp(dir=self.tmp.name)
        return work, gen.generate(layout, seed, work, packets, passes)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        for layout in ("files", "framed"):
            a, ma = self.run_gen(layout, 7)
            b, mb = self.run_gen(layout, 7)
            self.assertEqual(digest(a), digest(b), layout)
            self.assertEqual(ma, mb, layout)

    def test_other_seed_other_bytes(self):
        for layout in ("files", "framed"):
            a, _ = self.run_gen(layout, 7)
            b, _ = self.run_gen(layout, 8)
            self.assertNotEqual(digest(a), digest(b), layout)

    def test_model_matches_bytes(self):
        for layout in ("files", "framed"):
            work, model = self.run_gen(layout, 11)
            counts, sums = {}, {}
            data = os.path.join(work, "data")
            for name in sorted(os.listdir(data)):
                with open(os.path.join(data, name), "rb") as f:
                    c, s = walk(f.read(), layout == "framed")
                for k in c:
                    counts[k] = counts.get(k, 0) + c[k]
                    sums[k] = sums.get(k, 0) + s[k]
            self.assertEqual({str(k): v for k, v in counts.items()},
                             model["packets_per_apid"], layout)
            if layout == "files":
                for apid, total in sums.items():
                    exp = model["tidy"][gen.param_name(apid, "u16a")]["raw_sum"]
                    self.assertEqual(total, exp)

    def test_framed_layout_has_false_syncs(self):
        _, model = self.run_gen("framed", 5, packets=20000)
        self.assertGreater(model["false_syncs"], 0)


if __name__ == "__main__":
    unittest.main()
