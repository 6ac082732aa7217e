"""The monthly_load generator: deterministic, seed-sensitive, and shaped like
the reference's statements workbook."""

import io
import re
import sys
import unittest
import zipfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import workbook  # noqa: E402

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def cells(data):
    """{sheet name: {cell ref: (type, text)}} read with the standard library."""
    import xml.etree.ElementTree as ET
    z = zipfile.ZipFile(io.BytesIO(data))
    shared = [si.findtext(f"{NS}t") for si in ET.fromstring(z.read("xl/sharedStrings.xml"))]
    names = [s.get("name") for s in ET.fromstring(z.read("xl/workbook.xml")).iter(f"{NS}sheet")]
    out = {}
    for i, name in enumerate(names):
        grid = {}
        for c in ET.fromstring(z.read(f"xl/worksheets/sheet{i + 1}.xml")).iter(f"{NS}c"):
            v = c.findtext(f"{NS}v")
            grid[c.get("r")] = ("s", shared[int(v)]) if c.get("t") == "s" else ("n", v)
        out[name] = grid
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.data, cls.facts = workbook.workbook(5, 2025, 3)

    def test_same_seed_same_bytes(self):
        again, facts = workbook.workbook(5, 2025, 3)
        self.assertEqual(again, self.data)
        self.assertEqual(facts, self.facts)
        self.assertEqual(workbook.plan(5, 12), workbook.plan(5, 12))

    def test_other_seed_other_bytes(self):
        self.assertNotEqual(workbook.workbook(6, 2025, 3)[0], self.data)
        self.assertNotEqual(workbook.workbook(5, 2025, 3, version=4)[0], self.data)

    def test_reference_layout(self):
        grid = cells(self.data)
        self.assertEqual(list(grid), [f"DEPARTMENT {d}-F" for d in workbook.DEPARTMENTS])
        sheet = grid["DEPARTMENT 100-F"]
        self.assertEqual([sheet[r][1] for r in ("A2", "B2", "C2")], ["NUMBER", "DESCRIPTION", "ACTUAL"])
        self.assertEqual(sheet["A1"][0], "s")
        self.assertEqual(sheet["C1"], ("n", "2025"))
        self.assertEqual(sheet["A3"], ("s", "REVENUES"))
        labels = [v for ref, v in sheet.items() if ref.startswith("A")]
        amounts = [v for ref, v in sheet.items() if ref.startswith("C")]
        self.assertIn(("s", "EXPENSES"), labels)
        self.assertTrue(any(t == "s" and re.fullmatch(r"\d{1,4}", x) for t, x in labels))
        self.assertTrue(any(t == "s" and re.fullmatch(r"0\d{3}", x) for t, x in labels))
        self.assertTrue(any(t == "n" and re.fullmatch(r"\d{1,4}\.0", x) for t, x in labels))
        self.assertTrue(any(t == "n" and re.fullmatch(r"\d{1,4}", x) for t, x in labels))
        self.assertTrue(any(t == "s" and re.fullmatch(r"\$\d{1,3}(,\d{3})*\.\d\d", x) for t, x in amounts))
        self.assertTrue(any(t == "s" and re.fullmatch(r"\$\(\d{1,3}(,\d{3})*\.\d\d\)", x) for t, x in amounts))
        self.assertTrue(any(t == "n" for t, x in amounts))
        self.assertIn(("s", "N/A"), amounts)

    def test_codes_inside_and_outside_the_gl_reference(self):
        reference = {f"{25 * i:04d}" for i in range(1, 41) if i % 8 != 3}
        codes = {key[0] for key, _, _ in self.facts}
        self.assertTrue(codes & reference)
        self.assertTrue(codes - reference)
        self.assertTrue({f"{25 * i:04d}" for i in range(1, 41) if i % 8 == 3} <= codes)

    def test_plan_mix(self):
        ops = workbook.plan(9, 12)
        kinds = [op["kind"] for op in ops]
        self.assertEqual(kinds.count("replay"), 1)
        self.assertGreaterEqual(kinds.count("correction"), 2)
        replay = ops[kinds.index("replay")]
        self.assertEqual(replay["stamp"], ops[replay["source"]]["stamp"])
        fresh = [op["stamp"] for op in ops if op["kind"] != "replay"]
        self.assertEqual(fresh, sorted(set(fresh)))

    def test_fold_keeps_the_last_delivery(self):
        fold = workbook.Fold()
        key = ("0025", 2025, 1, "100", "Revenue")
        fold.load(1, [(key, 4, 100), (key, 9, 200)])
        self.assertEqual(fold.months(), {(2025, 1): (1, 200)})
        fold.load(2, [(key, 3, 300)])
        self.assertEqual(fold.months(), {(2025, 1): (1, 300)})
        fold.load(1, [(key, 9, 200)])  # an older batch replayed changes nothing
        self.assertEqual(fold.months(), {(2025, 1): (1, 300)})

    def test_history_sums(self):
        months = workbook.history_months()
        self.assertEqual(len(months), 120)
        per = len(workbook.DEPARTMENTS) * workbook.HISTORY_ROWS_PER_SHEET
        self.assertEqual(months[(2015, 1)],
                         (per, sum(workbook.history_cents(i) for i in range(per))))


if __name__ == "__main__":
    unittest.main()
