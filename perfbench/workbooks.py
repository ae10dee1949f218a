"""Seeded faculty workbooks in the reference student-records schema.

Covers FIXTURES.md §A: grade boundary values, starred course names,
rows of the in-progress term ``20251``, junk strings in the leniently
cast columns, duplicate-key rows and byte-identical rows.  Of the two
faculties, one is written as a legacy ``.xls`` workbook and the other
as ``.xlsx``, so a drop loop runs both parsers.

``Registrar`` owns the current content of both workbooks.  ``redrop``
changes about 2% of one workbook's grades, appends a few rows for a new
term and returns the exact change set, so the benchmark can check what
the row-hash CDC logged and what the served table holds.  Everything is
drawn from ``random.Random(seed)``.
"""

from __future__ import annotations

import math
import os
import random
from decimal import Decimal

from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xls import (
    write_minimal_xls,
)
from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xlsx import (
    write_minimal_xlsx,
)

HEADER = [
    "F_MASV", "F_MAMH", "F_TENMHVN", "F_DVHT", "F_TENLOP", "NHHK",
    "F_DIEM2", "F_TCDTTL", "F_KHOAHOC", "@timestamp",
]
KEY_COLS = ("F_MAMH", "F_MASV", "F_KHOAHOC", "NHHK")
# Columns that hold a junk string in every workbook, so ``read_excel``
# types them as strings in every file and the changed-rows log keeps
# one schema.
LENIENT_COLS = ("F_DVHT", "F_DIEM2", "F_TCDTTL")
BOUNDARY_GRADES = (4.0, 5.0, 5.5, 6.5, 7.0, 8.0, 9.0)
JUNK = ("N/A", "x", "--", "7,5", "miễn")
COHORTS = (("B20", "K46"), ("B21", "K47"), ("B22", "K48"), ("B23", "K49"),
           ("B24", "K50"))
TERMS = tuple(y * 10 + s for y in range(2020, 2025) for s in (1, 2, 3))
IN_PROGRESS_TERM = 20251
N_FACULTIES = 2
XLS_FACULTY = 0  # the other faculty's workbook is .xlsx
# re-upload order: the .xls workbook every eighth drop, from the first
DROP_ORDER = (XLS_FACULTY, 1, 1, 1, 1, 1, 1, 1)
CHANGED_SHARE = 0.02  # of a workbook's rows whose grade a re-upload edits
NEW_ROWS = 3  # new-term rows a re-upload appends
_COL = {name: i for i, name in enumerate(HEADER)}
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def row_key(row: list) -> tuple:
    return tuple(row[_COL[c]] for c in KEY_COLS)


def as_read(row: list) -> dict:
    """A workbook row as the served table holds it: the lenient columns
    as the strings ``read_excel`` makes of them, ``NHHK`` and
    ``@timestamp`` as integers."""
    out = {}
    for name, v in zip(HEADER, row):
        if name in LENIENT_COLS:
            out[name] = v if isinstance(v, str) else str(float(v))
        elif name in ("NHHK", "@timestamp"):
            out[name] = int(v)
        else:
            out[name] = v
    return out


def lenient_grade(v) -> float | None:
    """``F_DIEM2`` after the engine's lenient cast."""
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return float(v)


class Registrar:
    """The workbooks of ``N_FACULTIES`` faculties and their edits."""

    def __init__(self, seed: int, rows_per_faculty: int):
        self.rng = random.Random(seed)
        self.clock = _T0_US
        self.next_term = [20252] * N_FACULTIES
        self.files = [
            self._faculty(f, rows_per_faculty) for f in range(N_FACULTIES)
        ]
        self._drops = 0

    # -- generation ------------------------------------------------------
    def _tick(self) -> float:
        self.clock += self.rng.randint(1, 997)
        return float(self.clock)

    def _grade(self):
        r = self.rng.random()
        if r < 0.15:
            return self.rng.choice(BOUNDARY_GRADES)
        return round(self.rng.uniform(0.0, 10.0), 1)

    def _faculty(self, f: int, n_rows: int) -> list[list]:
        rng = self.rng
        per_student = 25
        n_students = max(n_rows // per_student, 2)
        courses = [
            (f"C{f}{j:03d}", f"Course {f}-{j}" + (" *" if rng.random() < 0.05
                                                 else ""))
            for j in range(60)
        ]
        rows: list[list] = []
        for s in range(n_students):
            prefix, label = COHORTS[rng.randrange(len(COHORTS))]
            masv = f"{prefix}{f}{s:05d}"
            klass = rng.choices(["DI", "FL", "KT"], [45, 45, 10])[0] + f"{s % 7:02d}"
            credits = round(rng.uniform(0, 160), 1)
            taken = rng.sample(
                [(c, t) for c in range(len(courses)) for t in TERMS], per_student
            )
            for c, term in taken:
                if rng.random() < 0.05:
                    term = IN_PROGRESS_TERM
                code, name = courses[c]
                rows.append([
                    masv, code, name, float(rng.randint(1, 5)), klass,
                    float(term), self._grade(), credits, label, 0.0,
                ])
        # unique keys so far (an in-progress rewrite can collide)
        seen: set = set()
        rows = [r for r in rows if not (row_key(r) in seen or seen.add(row_key(r)))]
        rng.shuffle(rows)
        rows = rows[:n_rows]
        for r in rows:
            r[_COL["@timestamp"]] = self._tick()
        for col in LENIENT_COLS:
            for i in rng.sample(range(len(rows)), max(1, len(rows) // 100)):
                rows[i][_COL[col]] = rng.choice(JUNK)
        # duplicate-key rows (same key, new grade, later timestamp) and
        # byte-identical rows, appended after their originals
        for i in rng.sample(range(len(rows)), max(1, len(rows) // 200)):
            dup = list(rows[i])
            dup[_COL["F_DIEM2"]] = self._grade()
            dup[_COL["@timestamp"]] = self._tick()
            rows.append(dup)
        for i in rng.sample(range(len(rows)), max(1, len(rows) // 200)):
            rows.append(list(rows[i]))
        return rows

    # -- files -----------------------------------------------------------
    def path(self, folder: str, f: int) -> str:
        ext = ".xls" if f == XLS_FACULTY else ".xlsx"
        return os.path.join(folder, f"faculty_{f}{ext}")

    def write(self, folder: str, f: int) -> str:
        path = self.path(folder, f)
        tmp = os.path.join(os.path.dirname(folder), f".tmp_{os.path.basename(path)}")
        if f == XLS_FACULTY:
            write_minimal_xls(tmp, HEADER, self.files[f])
        else:
            write_minimal_xlsx(tmp, HEADER, self.files[f])
        # atomic publish: the monitor never hashes a half-written file
        os.replace(tmp, path)
        return path

    # -- drops -----------------------------------------------------------
    def redrop(self):
        """Edit the next workbook in drop order in place and return
        ``(faculty, change_set)``: the rows whose content changed plus
        the new-term rows, as they appear in the new workbook."""
        f = DROP_ORDER[self._drops % len(DROP_ORDER)]
        self._drops += 1
        rows = self.files[f]
        keys: dict = {}
        contents: dict = {}
        for r in rows:
            keys[row_key(r)] = keys.get(row_key(r), 0) + 1
            contents[tuple(r)] = contents.get(tuple(r), 0) + 1
        plain = [
            i for i, r in enumerate(rows)
            if keys[row_key(r)] == 1 and contents[tuple(r)] == 1
            and not isinstance(r[_COL["F_DIEM2"]], str)
        ]
        n_change = max(1, math.ceil(CHANGED_SHARE * len(rows)))
        changes = []
        for i in sorted(self.rng.sample(plain, n_change)):
            old = rows[i][_COL["F_DIEM2"]]
            new = old
            while new == old:
                new = self._grade()
            rows[i][_COL["F_DIEM2"]] = new
            rows[i][_COL["@timestamp"]] = self._tick()
            changes.append(list(rows[i]))
        term = self.next_term[f]
        self.next_term[f] = term + 1 if term % 10 < 3 else (term // 10 + 1) * 10 + 1
        students = sorted({r[_COL["F_MASV"]]: r for r in rows}.items())
        for _masv, proto in self.rng.sample(students, NEW_ROWS):
            new = list(proto)
            new[_COL["F_MAMH"]] = f"N{f}{term}"
            new[_COL["F_TENMHVN"]] = f"New course {term}"
            new[_COL["F_DVHT"]] = float(self.rng.randint(1, 5))
            new[_COL["NHHK"]] = float(term)
            new[_COL["F_DIEM2"]] = self._grade()
            new[_COL["@timestamp"]] = self._tick()
            rows.append(new)
            changes.append(list(new))
        return f, changes

    # -- expected state --------------------------------------------------
    def state(self) -> dict[tuple, dict]:
        """Last-write-wins table state: per key, the row with the latest
        ``@timestamp``.  Edits only touch keys that occur once, so file
        order and ingest order agree on the winner."""
        out: dict[tuple, list] = {}
        for rows in self.files:
            for r in rows:
                k = row_key(r)
                if k not in out or r[_COL["@timestamp"]] > out[k][_COL["@timestamp"]]:
                    out[k] = r
        return {k: as_read(r) for k, r in out.items()}

    def cohort_totals(self) -> dict[str, tuple[int, Decimal]]:
        """Per-cohort row count and exact grade sum of ``state()``."""
        totals: dict[str, list] = {}
        for row in self.state().values():
            t = totals.setdefault(row["F_KHOAHOC"], [0, Decimal(0)])
            t[0] += 1
            g = lenient_grade(row["F_DIEM2"])
            if g is not None:
                t[1] += Decimal(repr(g)).quantize(Decimal("0.0001"))
        return {k: (n, s) for k, (n, s) in totals.items()}

    @property
    def n_rows(self) -> int:
        return sum(len(rows) for rows in self.files)
