"""Seeded dirty HR / finance / operations CSV feeds for the warehouse-daily
workload, together with the row counts the warehouse must hold after each
daily load.

Every feed row is drawn as a *canonical* (already clean) record and then
rendered into raw strings with the dirt the engine's cleaning layer
repairs: case and whitespace noise, day-first dates, float-string ids,
negative amounts, sentinel blanks, junk dates and exact duplicate rows.
Because the generator knows both sides, it can predict every count the
load must produce without running the engine:

* SCD2 versions: a canonical attribute change makes one new version, a
  re-sent employee whose raw rendering differs but whose cleaned
  attributes do not makes none;
* fact rows: each canonical expense / downtime record is unique on its
  cleaned tuple, so re-delivered records are the only ones the
  incremental NOT EXISTS insert must drop;
* DQ rows: each dirt class the cleaning layer logs is counted as rendered.

Rendering never maps two canonical records to the same cleaned tuple and
never renders one record two ways inside one batch, so a duplicate fact
row after the last day is a defect of the engine, not of the input.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random
from dataclasses import dataclass, field

HR_HEADER = ["EmployeeID", "Name", "Department", "Gender", "DateOfJoining",
             "ManagerID", "Salary", "Status"]
FIN_HEADER = ["EmployeeID", "ExpenseType", "ExpenseAmount", "ExpenseDate",
              "ApprovedBy"]
OPS_HEADER = ["Department", "ProcessName", "DowntimeHours", "ProcessDate",
              "Location"]

DEPTS = ["IT", "HR", "FINANCE", "SALES", "LEGAL", "OPERATIONS", "MARKETING",
         "RESEARCH", "SUPPORT", "PROCUREMENT"]
EXPENSE_TYPES = ["Travel", "Meals", "Supplies", "Training", "Software",
                 "Lodging", "Hardware", "Conference"]
PROCESSES = [f"Process{i:02d}" for i in range(40)]
LOCATIONS = ["HQ", "Plant A", "Plant B", "Remote Site A", "Remote Site B",
             "Warehouse", "Lab", "Depot North", "Depot South", "Branch East",
             "Branch West", "Data Center"]
UNASSIGNED_DEPT = "UNASSIGNED_DEPT"
UNKNOWN_PROCESS = "UNKNOWN_PROCESS"
UNKNOWN_TYPE = "Unknown"

#: dim_time spine of the engine (plans.warehouse → functions.dates):
#: every day of 2020..2030 plus the 1957-01-01 fallback member.
DIM_TIME_START = dt.date(2020, 1, 1)
DIM_TIME_END = dt.date(2030, 12, 31)
DIM_TIME_ROWS = (DIM_TIME_END - DIM_TIME_START).days + 2
FIRST_LOAD = dt.date(2024, 3, 1)

#: State tables ``plans.warehouse.run_etl`` returns, in write order.
STATE_TABLES = ("dim_department", "dim_expense_type", "dim_process",
                "dim_location", "dim_employee", "dim_time", "fact_employee",
                "fact_expenses", "fact_downtime", "audit", "dq")


@dataclass
class Employee:
    name: str | None          # None: always rendered blank → EMP_<id>
    gender: str               # M, F or UNKNOWN
    doj: dt.date | None
    manager: str              # digits or UNKNOWN
    dept: str                 # canonical upper-case or UNASSIGNED_DEPT
    salary: int
    status: str               # Active, Resigned or Unknown


@dataclass
class DayFeed:
    day: int
    load_date: str
    hr: list[list[str]]
    fin: list[list[str]]
    ops: list[list[str]]
    #: table name → expected row count after this day's load
    expected: dict[str, int]

    @property
    def rows(self) -> int:
        return len(self.hr) + len(self.fin) + len(self.ops)

    def write(self, directory: str) -> dict[str, str]:
        """Write the three feeds as CSV files; returns feed → path."""
        os.makedirs(directory, exist_ok=True)
        paths = {}
        for name, header, rows in (("hr", HR_HEADER, self.hr),
                                   ("finance", FIN_HEADER, self.fin),
                                   ("ops", OPS_HEADER, self.ops)):
            path = os.path.join(directory, f"{name}.csv")
            with open(path, "w", newline="") as fh:
                w = csv.writer(fh)
                w.writerow(header)
                w.writerows(rows)
            paths[name] = path
        return paths


def _date_str(rng: random.Random, d: dt.date) -> str:
    return d.isoformat() if rng.random() < 0.7 else d.strftime("%d-%m-%Y")


def _pad(rng: random.Random, s: str) -> str:
    return f" {s} " if rng.random() < 0.1 else s


@dataclass
class FeedGenerator:
    """Deterministic day-by-day feed source for one ``--seed``.

    ``employees`` is the day-0 headcount; ``fin_rows`` and ``ops_rows``
    are the canonical records per day before re-deliveries and duplicates.
    Days must be drawn in order (0, 1, 2, ...): day *d* re-delivers and
    changes records of the days before it."""

    seed: int
    employees: int = 4000
    fin_rows: int = 12000
    ops_rows: int = 4000
    rng: random.Random = field(init=False)
    staff: dict[str, Employee] = field(init=False, default_factory=dict)
    next_id: int = field(init=False, default=100000)
    fin_seen: set = field(init=False, default_factory=set)
    ops_seen: set = field(init=False, default_factory=set)
    fin_last: list = field(init=False, default_factory=list)
    ops_last: list = field(init=False, default_factory=list)
    dims: dict[str, set] = field(init=False)
    totals: dict[str, int] = field(init=False)
    day_no: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        self.rng = random.Random(f"warehouse-daily:{self.seed}")
        self.dims = {t: set() for t in ("dim_department", "dim_expense_type",
                                         "dim_process", "dim_location")}
        self.totals = {"dim_employee": 0, "fact_employee": 0,
                       "fact_expenses": 0, "fact_downtime": 0}

    # -- canonical records --------------------------------------------------

    def _new_employee(self) -> Employee:
        r = self.rng
        return Employee(
            name=None if r.random() < 0.03 else f"Person {self.next_id}",
            gender=r.choices(["M", "F", "UNKNOWN"], [0.48, 0.48, 0.04])[0],
            doj=None if r.random() < 0.03 else
            dt.date(2010, 1, 1) + dt.timedelta(days=r.randrange(5000)),
            manager="UNKNOWN" if r.random() < 0.04 else str(2000 + r.randrange(400)),
            dept=UNASSIGNED_DEPT if r.random() < 0.03 else r.choice(DEPTS),
            salary=r.randrange(30000, 150000),
            status=r.choices(["Active", "Resigned", "Unknown"], [0.9, 0.08, 0.02])[0],
        )

    def _change(self, e: Employee) -> Employee:
        """A tracked-attribute change (department or manager)."""
        r = self.rng
        if r.random() < 0.5:
            dept = r.choice([d for d in DEPTS if d != e.dept])
            return Employee(e.name, e.gender, e.doj, e.manager, dept, e.salary, e.status)
        mgr = str(2000 + r.randrange(400))
        while mgr == e.manager:
            mgr = str(2000 + r.randrange(400))
        return Employee(e.name, e.gender, e.doj, mgr, e.dept, e.salary, e.status)

    # -- rendering ----------------------------------------------------------

    def _render_hr(self, emp_id: str, e: Employee, dq: list[int]) -> list[str]:
        r = self.rng
        g = {"M": ["M", "m", "Male", "MALE", " male "],
             "F": ["F", "f", "Female", "FEMALE", " female "],
             "UNKNOWN": ["x", "?", "Unknown"]}[e.gender]
        if e.gender == "UNKNOWN":
            dq[0] += 1
        if e.doj is not None:
            doj = _date_str(r, e.doj)
        elif r.random() < 0.5:
            doj = "not-a-date"
            dq[0] += 1
        else:
            doj = ""
        if e.manager == "UNKNOWN":
            mgr = r.choice(["", "nan"])
            dq[0] += 1
        else:
            mgr = e.manager + (".0" if r.random() < 0.2 else "")
        if e.dept == UNASSIGNED_DEPT:
            dept = r.choice(["", "nan", "NULL"])
        else:
            dept = _pad(r, r.choice([e.dept, e.dept.lower(), e.dept.title()]))
        if r.random() < 0.03:
            salary = str(-e.salary)
            dq[0] += 1
        else:
            salary = str(e.salary)
        status = r.choice({"Active": ["Active", "ACTIVE", "active"],
                           "Resigned": ["Resigned", "RESIGNED", "resigned"],
                           "Unknown": ["whatever", "?"]}[e.status])
        name = e.name if e.name is not None else r.choice(["", "nan"])
        return [emp_id, name, dept, r.choice(g), doj, mgr, salary, status]

    def _with_dups(self, rows: list[list[str]], share: float, dq_of) -> tuple[list, int]:
        """Append exact copies of a ``share`` of ``rows``; returns the rows
        and the DQ rows the copies add (``dq_of(row)`` per copy)."""
        k = int(len(rows) * share)
        picks = self.rng.sample(range(len(rows)), k)
        extra = 0
        for i in picks:
            extra += dq_of(rows[i])
        return rows + [list(rows[i]) for i in picks], extra

    # -- one day ------------------------------------------------------------

    def day(self) -> DayFeed:
        r = self.rng
        d = self.day_no
        self.day_no += 1
        load = FIRST_LOAD + dt.timedelta(days=d)
        dq = [0]

        # HR snapshot: day 0 is the full headcount; later days carry
        # changes, unchanged re-sends, hires and walk-ins (no id).
        batch: list[tuple[str, Employee]] = []
        new_keys = changed = 0
        if d == 0:
            hires = self.employees
        else:
            ids = r.sample(sorted(self.staff), int(len(self.staff) * 0.25))
            n_changed = int(len(self.staff) * 0.04)
            for i, emp_id in enumerate(ids):
                e = self.staff[emp_id]
                if i < n_changed:
                    e = self._change(e)
                    changed += 1
                elif r.random() < 0.3:  # untracked attributes only
                    e = Employee(e.name, e.gender, e.doj, e.manager, e.dept,
                                 r.randrange(30000, 150000), e.status)
                self.staff[emp_id] = e
                batch.append((emp_id, e))
            hires = int(self.employees * 0.01)
        for _ in range(hires):
            emp_id = str(self.next_id)
            self.staff[emp_id] = self._new_employee()
            self.next_id += 1
            batch.append((emp_id, self.staff[emp_id]))
            new_keys += 1
        hr = [self._render_hr(emp_id, e, dq) for emp_id, e in batch]
        for i in range(max(1, self.employees // 500)):
            e = self._new_employee()
            e.name = f"Walkin {d}-{i}"
            hr.append(self._render_hr("", e, dq))
            new_keys += 1
        hr_distinct = len(hr)

        def hr_dq(row: list[str]) -> int:
            n = 0
            if row[3].strip().upper() not in ("M", "MALE", "F", "FEMALE"):
                n += 1
            if row[4] == "not-a-date":
                n += 1
            if row[5] in ("", "nan"):
                n += 1
            if row[6].startswith("-"):
                n += 1
            return n

        hr, extra = self._with_dups(hr, 0.01, hr_dq)
        dq[0] += extra + (len(hr) - hr_distinct)  # one "duplicate" row per copied group
        depts = {_canon_dept(row[2]) for row in hr}

        # Finance: fresh canonical expenses plus re-delivered ones.
        known = sorted(self.staff)
        fin_batch: list[tuple] = []
        inserted = orphans = 0
        for _ in range(self.fin_rows):
            while True:
                orphan = r.random() < 0.02
                emp = str(900000 + r.randrange(100000)) if orphan else r.choice(known)
                etype = UNKNOWN_TYPE if r.random() < 0.02 else r.choice(EXPENSE_TYPES)
                u = r.random()
                amount = None if u < 0.01 else r.randrange(100, 500000) * (-1 if u > 0.95 else 1)
                u = r.random()
                if u < 0.01:
                    date = None  # rendered as junk: parses to NULL, row dropped
                elif u < 0.015:  # outside dim_time: row dropped by the date join
                    date = dt.date(2035, 1, 1) + dt.timedelta(days=r.randrange(300))
                else:
                    date = load - dt.timedelta(days=r.randrange(20))
                approver = "UNKNOWN" if r.random() < 0.03 else str(2000 + r.randrange(400))
                key = (emp, etype, amount, approver, date)
                if key not in self.fin_seen:
                    break
            self.fin_seen.add(key)
            fin_batch.append(key)
            if orphan:
                orphans += 1
            elif date is not None and date.year < 2031:
                inserted += 1
        redeliver = r.sample(self.fin_last, int(len(self.fin_last) * 0.05))
        fin_batch += redeliver
        self.fin_last = [k for k in fin_batch[:self.fin_rows]
                         if not k[0].startswith("9") and k[4] is not None and k[4].year < 2031]
        fin = []
        for emp, etype, amount, approver, date in fin_batch:
            if etype == UNKNOWN_TYPE:
                t = r.choice(["", "nan"])
            elif etype == "Travel" and r.random() < 0.3:
                t = r.choice(["Travell", "travell"])
            else:
                t = _pad(r, r.choice([etype, etype.lower(), etype.upper()]))
            if amount is None:
                a = "n/a"
            else:
                a = f"{amount / 100:.2f}"
                if a.endswith("0") and r.random() < 0.5:
                    a = a[:-1]
                if amount < 0:
                    dq[0] += 1
            if approver == "UNKNOWN":
                ap = ""
                dq[0] += 1
            else:
                ap = approver + (".0" if r.random() < 0.2 else "")
            ds = "31/02/2024" if date is None else _date_str(r, date)
            fin.append([_pad(r, emp), t, a, ds, ap])

        def fin_dq(row: list[str]) -> int:
            return int(row[2].startswith("-")) + int(row[4] == "")

        fin, extra = self._with_dups(fin, 0.01, fin_dq)
        dq[0] += extra + orphans  # fk_dq: one row per distinct orphan row
        types = {k[1] for k in fin_batch}

        # Operations: unique (dept, process, location, date) records.
        ops_batch: list[tuple] = []
        for _ in range(self.ops_rows):
            while True:
                dept = UNASSIGNED_DEPT if r.random() < 0.02 else r.choice(DEPTS)
                proc = UNKNOWN_PROCESS if r.random() < 0.02 else r.choice(PROCESSES)
                loc = r.choice(LOCATIONS)
                date = None if r.random() < 0.01 else load - dt.timedelta(days=r.randrange(30))
                key = (dept, proc, loc, date)
                if key not in self.ops_seen:
                    break
            self.ops_seen.add(key)
            hours = None if r.random() < 0.08 else r.randrange(1, 2400)
            ops_batch.append(key + (hours,))
        redeliver = r.sample(self.ops_last, int(len(self.ops_last) * 0.05))
        self.ops_last = [k for k in ops_batch if k[4] is not None]
        ops_batch += redeliver
        ops = []
        for dept, proc, loc, date, hours in ops_batch:
            if dept == UNASSIGNED_DEPT:
                dp = r.choice(["", "nan"])
            else:
                dp = _pad(r, r.choice([dept, dept.lower(), dept.title()]))
            pr = r.choice(["", "null"]) if proc == UNKNOWN_PROCESS else _pad(r, proc)
            if hours is None:
                h = r.choice(["", "n/a"])
                dq[0] += 1
            else:
                h = f"{hours / 100:.2f}"
            if date is None:
                ds = r.choice(["", "bad-date"])
                dq[0] += 1
            else:
                ds = _date_str(r, date)
            ops.append([dp, pr, h, ds, _pad(r, loc)])

        def ops_dq(row: list[str]) -> int:
            return int(row[2] in ("", "n/a")) + int(row[3] in ("", "bad-date"))

        ops, extra = self._with_dups(ops, 0.01, ops_dq)
        dq[0] += extra

        # Expected state after the load.
        self.dims["dim_department"] |= depts | {k[0] for k in ops_batch}
        self.dims["dim_expense_type"] |= types
        self.dims["dim_process"] |= {k[1] for k in ops_batch}
        self.dims["dim_location"] |= {k[2] for k in ops_batch}
        self.totals["dim_employee"] += new_keys + changed
        self.totals["fact_employee"] += hr_distinct
        self.totals["fact_expenses"] += inserted
        self.totals["fact_downtime"] += self.ops_rows
        expected = {t: len(v) for t, v in self.dims.items()}
        expected.update(self.totals)
        expected.update(dim_time=DIM_TIME_ROWS, audit=3, dq=dq[0])
        return DayFeed(d, load.isoformat(), hr, fin, ops, expected)


def _canon_dept(raw: str) -> str:
    """The engine's HR/ops department cleaning, for the dim prediction."""
    v = raw.strip().upper()
    return UNASSIGNED_DEPT if v.lower() in ("", "nan", "null") else v
