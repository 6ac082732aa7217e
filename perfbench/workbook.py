"""Seeded month-end statement workbooks and the fold they should produce.

Everything here is independent of the program under test: the workbooks
are written with this file's own zip/XML code, and the expected warehouse
contents come from the generator's ground-truth cents, never from parsing
the strings it wrote.

Layout of one workbook (the reference's monthly income statement):

* 20 sheets named ``DEPARTMENT 1NN-F``;
* row 1 is a banner (text plus a numeric year cell), row 2 the
  ``NUMBER / DESCRIPTION / ACTUAL`` header;
* a ``REVENUES`` marker row opens the detail lines and an ``EXPENSES``
  marker row splits them; ``Total ...`` lines carry amounts but no GL code;
* GL labels come as 1-4 digit strings, zero-padded strings, numeric cells
  and ``NNN.0`` numeric cells; some codes are absent from the program's GL
  reference (its grid is 25, 50, ..., 1000 minus every ``i % 8 == 3``);
* amounts come as ``$1,234.50`` and ``$(1,234.50)`` shared strings,
  numeric cells, ``N/A`` and blank cells;
* strings live in ``xl/sharedStrings.xml``.
"""

import io
import random
import zipfile
from xml.sax.saxutils import escape

DEPARTMENTS = tuple(range(100, 120))
LINES_PER_SECTION = 125
HISTORY_YEARS = tuple(range(2015, 2025))
HISTORY_ROWS_PER_SHEET = 60
FIRST_NEW_YEAR = 2025
# Loads before the timed ones: enough for the JIT to settle on the load path.
WARMUP_LOADS = 7
# Kinds after the first load: a corrected re-delivery every fourth load and
# one exact replay early in the timed part, so even a short run checks it.
KIND_CYCLE = ("new", "correction", "new", "new")
REPLAY_AT = WARMUP_LOADS + 1
HISTORY_MODULUS = 999983
HISTORY_MULTIPLIER = 2654435761
HISTORY_OFFSET = 250000


def file_name(op):
    """The delivered file: the period the program parses (mm.yyyy) plus the
    batch stamp the loader reads back (a replay is the same file again)."""
    return f"Financials {op['month']:02d}.{op['year']} b{op['stamp']}.xlsx"


# ------------------------------------------------------------------ history

def history_cents(i):
    """Amount in cents of history row ``i`` (the harness builds the same rows)."""
    return (i * HISTORY_MULTIPLIER) % HISTORY_MODULUS - HISTORY_OFFSET


def history_months():
    """Per (year, month) of the pristine history: (row count, cents sum)."""
    per_month = len(DEPARTMENTS) * HISTORY_ROWS_PER_SHEET
    out = {}
    for m in range(len(HISTORY_YEARS) * 12):
        lo = m * per_month
        total = sum(history_cents(i) for i in range(lo, lo + per_month))
        out[(HISTORY_YEARS[0] + m // 12, m % 12 + 1)] = (per_month, total)
    return out


# ---------------------------------------------------------------- statements

def _money(cents):
    a = abs(cents)
    body = f"{a // 100:,}.{a % 100:02d}"
    return f"$({body})" if cents < 0 else f"${body}"


def _sheet_lines(seed, year, month, dept, version):
    """Detail lines of one sheet as dicts; version > 0 is a correction."""
    rng = random.Random(f"{seed}:{year}:{month}:{dept}")
    fix = random.Random(f"{seed}:{year}:{month}:{dept}:v{version}")
    grid = [25 * i for i in range(1, 41)]
    lines = []
    for section in ("Revenue", "Expenses"):
        codes = rng.sample([c for c in range(1, 10000) if c % 25], LINES_PER_SECTION - 40)
        codes = (grid if section == "Revenue" else []) + codes
        codes = codes[:LINES_PER_SECTION]
        rng.shuffle(codes)
        for code in codes:
            lines.append(_line(rng, section, code))
            if rng.random() < 0.02:  # a later line re-states the same code
                lines.append(_line(rng, section, code))
            if rng.random() < 0.01:
                lines.append({"section": section, "junk": f"Total {section}",
                              "cents": rng.randint(1, 10**8)})
    if version:
        for ln in lines:
            if "code" in ln and fix.random() < 0.1:
                ln["cents"] = fix.randint(-10**7, 10**8)
                ln["amount_form"] = "cur"
    return lines


def _line(rng, section, code):
    r = rng.random()
    label_form = "str" if r < 0.55 else "pad" if r < 0.7 else "num" if r < 0.85 else "dec"
    r = rng.random()
    amount_form = "cur" if r < 0.72 else "num" if r < 0.92 else "na" if r < 0.96 else "blank"
    cents = rng.randint(1, 10**8 - 1) * (-1 if rng.random() < 0.15 else 1)
    return {"section": section, "code": code, "label_form": label_form,
            "amount_form": amount_form, "cents": cents}


class _Strings:
    def __init__(self):
        self.index = {}

    def ref(self, s):
        return self.index.setdefault(s, len(self.index))


def _sheet_xml(lines, year, dept, strings):
    rows = []

    def s(ref, text):
        return f'<c r="{ref}" t="s"><v>{strings.ref(text)}</v></c>'

    def n(ref, text):
        return f'<c r="{ref}"><v>{text}</v></c>'

    rows.append(f'<row r="1">{s("A1", f"STATEMENT OF ACTIVITIES - DEPARTMENT {dept}")}'
                f'{n("C1", str(year))}</row>')
    rows.append(f'<row r="2">{s("A2", "NUMBER")}{s("B2", "DESCRIPTION")}{s("C2", "ACTUAL")}</row>')
    r = 3
    section = None
    for ln in lines:
        if ln["section"] != section:
            section = ln["section"]
            marker = "REVENUES" if section == "Revenue" else "EXPENSES"
            rows.append(f'<row r="{r}">{s(f"A{r}", marker)}</row>')
            r += 1
        if "junk" in ln:
            rows.append(f'<row r="{r}">{s(f"A{r}", ln["junk"])}'
                        f'{s(f"C{r}", _money(ln["cents"]))}</row>')
            r += 1
            continue
        code, form = ln["code"], ln["label_form"]
        label = (s(f"A{r}", str(code)) if form == "str" else
                 s(f"A{r}", f"{code:04d}") if form == "pad" else
                 n(f"A{r}", str(code)) if form == "num" else n(f"A{r}", f"{code}.0"))
        desc = s(f"B{r}", f"Account {code:04d}")
        cents, af = ln["cents"], ln["amount_form"]
        amount = (s(f"C{r}", _money(cents)) if af == "cur" else
                  n(f"C{r}", f"{cents / 100:.2f}") if af == "num" else
                  s(f"C{r}", "N/A") if af == "na" else "")
        rows.append(f'<row r="{r}">{label}{desc}{amount}</row>')
        ln["pos"] = r
        r += 1
    return ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f'<sheetData>{"".join(rows)}</sheetData></worksheet>')


_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
    '{sheets}</Types>')
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    '</Relationships>')


def workbook(seed, year, month, version=0):
    """(xlsx bytes, fact rows) for one month; fact rows are
    ((gl_code, year, month, department, category), pos, cents)."""
    strings = _Strings()
    sheets, facts = [], []
    for dept in DEPARTMENTS:
        lines = _sheet_lines(seed, year, month, dept, version)
        sheets.append((f"DEPARTMENT {dept}-F", _sheet_xml(lines, year, dept, strings)))
        for ln in lines:
            if "code" in ln and ln["amount_form"] in ("cur", "num"):
                key = (f'{ln["code"]:04d}', year, month, str(dept), ln["section"])
                facts.append((key, ln["pos"], ln["cents"]))
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    wb = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook {ns} {rns}><sheets>'
          + "".join(f'<sheet name="{escape(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                    for i, (name, _) in enumerate(sheets))
          + "</sheets></workbook>")
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
                      f'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
                      for i in range(len(sheets)))
            + f'<Relationship Id="rId{len(sheets) + 1}" Type="http://schemas.openxmlformats.org/'
              'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            + "</Relationships>")
    ordered = sorted(strings.index, key=strings.index.get)
    sst = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst {ns} '
           f'count="{len(ordered)}" uniqueCount="{len(ordered)}">'
           + "".join(f"<si><t>{escape(t)}</t></si>" for t in ordered) + "</sst>")
    overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheets)))
    parts = [("[Content_Types].xml", _CONTENT_TYPES.format(sheets=overrides)),
             ("_rels/.rels", _ROOT_RELS),
             ("xl/workbook.xml", wb),
             ("xl/_rels/workbook.xml.rels", rels),
             ("xl/sharedStrings.xml", sst)]
    parts += [(f"xl/worksheets/sheet{i + 1}.xml", xml) for i, (_, xml) in enumerate(sheets)]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, text in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, text.encode("utf-8"), compresslevel=6)
    return buf.getvalue(), facts


# ---------------------------------------------------------------------- plan

def plan(seed, n_ops):
    """The seeded load sequence, warm-up loads first. Each op is a dict with
    kind, year, month, version, stamp (the batch id, higher wins) and, for a
    replay, the index of the op whose workbook lands again."""
    rng = random.Random(f"{seed}:plan")
    ops, new_months = [], []
    next_month = 0
    for k in range(n_ops):
        kind = "new" if k == 0 else "replay" if k == REPLAY_AT else KIND_CYCLE[k % len(KIND_CYCLE)]
        if kind == "new":
            year, month = FIRST_NEW_YEAR + next_month // 12, next_month % 12 + 1
            next_month += 1
            new_months.append((year, month))
            ops.append({"kind": kind, "year": year, "month": month, "version": 0, "stamp": k + 1})
        elif kind == "correction":
            year, month = rng.choice(new_months)
            ops.append({"kind": kind, "year": year, "month": month, "version": k, "stamp": k + 1})
        else:
            src = rng.randrange(k)
            ops.append(dict(ops[src], kind="replay", source=src))
    return ops


class Fold:
    """Keep-last fold of the loaded fact rows, as the warehouse must hold them:
    per natural key, the highest (stamp, pos) wins."""

    def __init__(self):
        self.rows = {}

    def load(self, stamp, facts):
        for key, pos, cents in facts:
            cur = self.rows.get(key)
            if cur is None or (stamp, pos) >= cur[:2]:
                self.rows[key] = (stamp, pos, cents)

    def months(self):
        out = {}
        for (_, year, month, _, _), (_, _, cents) in self.rows.items():
            n, s = out.get((year, month), (0, 0))
            out[(year, month)] = (n + 1, s + cents)
        return out
