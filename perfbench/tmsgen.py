"""Seeded TMS CSV lake in the reference layout, plus an independent
model of the table the import loop should produce.

Layout: ``<root>/<YYYY-MM>/daily/<YYYY-MM-DD>.csv`` — headerless,
71 positional columns (``DataTurno, Tear, Artigo, <unused>,
ArtigoGen, Rpm, ...``), one file per day with one row per loom and
shift. The generator plants every edge row the import contract
covers: powered-off C shifts, borderline C shifts that must not be
flagged, short rows (dropped), truncated rows (trailing measures
null → 0), empty numerics, a UTF-8 BOM on each month's first file,
exact duplicate rows inside a file and late rows re-emitted with
changed values in the next day's file (newest file wins).

`TmsLake.write_cycle` is the reference's poll loop: land the next
day and re-export the last two months with changed values and late
powered-off C shifts (which first-write-wins must skip).

`ExpectedTable` re-implements the import semantics in plain Python
(arity filter, newest-file-wins dedupe, first-write-wins MERGE) over
the same files, so the engine's table can be checked without Spark.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random

N_COLUMNS = 71
N_STOP_PAIRS = 10
SHIFT_MINUTES = 440
BOM = "﻿"
# file mtimes: one "write generation" per export, days ordered within
_T0 = 1_700_000_000
_GEN_STRIDE = 1_000_000


def _shift_row(rng: random.Random, key: str, loom: str, powered_off: bool) -> list[str]:
    """One 71-field shift record as strings."""
    if powered_off:
        run = 0
        stop = SHIFT_MINUTES
    else:
        run = rng.randint(250, 430)
        stop = SHIFT_MINUTES - run
    eff = 0 if powered_off else rng.randint(5000, 9900) / 100
    metros = 0 if powered_off else rng.randint(2000, 9000) / 10
    row = [
        key,
        loom,
        f"ART-{rng.randint(100, 140)}",
        "",
        f"GEN-{rng.randint(1, 9)}",
        "0" if powered_off else str(rng.randint(400, 700)),
        f"{eff:.2f}",
        str(run),
        str(stop),
        str(rng.randint(0, 5000)),
        f"{metros:.1f}",
        f"{metros * 1.09361:.2f}",
        f"{rng.randint(0, 50) / 10:.1f}",
        str(rng.randint(0, 3)),
        str(rng.randint(0, 30)),
    ]
    # 10 (Qtd, Min) stop pairs whose minutes sum to the stop time
    if powered_off:
        mins = [0] * N_STOP_PAIRS
        mins[8] = stop  # EnergiaDesligada
    else:
        cuts = [0, *sorted(rng.randint(0, stop) for _ in range(N_STOP_PAIRS - 1)), stop]
        mins = [b - a for a, b in zip(cuts, cuts[1:])]
    for m in mins:
        row += [str(0 if m == 0 else rng.randint(1, 1 + m // 5)), str(m)]
    row += [str(rng.randint(0, 200)) for _ in range(4)]
    for _ in range(16):
        hit = rng.random() < 0.05
        row += [str(rng.randint(1, 4)) if hit else "0",
                str(rng.randint(1, 20)) if hit else "0"]
    assert len(row) == N_COLUMNS
    return row


class TmsLake:
    """A CSV lake of ``looms`` looms x 3 shifts x one file per day,
    starting at ``start``. Every file's content is a pure function of
    (seed, day, export revision), so a seed always yields the same
    lake and the same re-export cycles."""

    def __init__(self, root: str, seed: int, looms: int = 40,
                 start: dt.date = dt.date(2024, 1, 1)):
        self.root = root
        self.seed = seed
        self.looms = [f"{i:05d}" for i in range(1, looms + 1)]
        self.start = start
        self.days: list[dt.date] = []   # landed days, in order
        self.generation = 0              # exports so far

    # -- file content -------------------------------------------------
    def _rows(self, day: dt.date, rev: int) -> str:
        """Text of one day file at export revision ``rev``."""
        di = (day - self.start).days
        base = random.Random(f"{self.seed}:{day}")
        lines: list[str] = []
        for shift in "ABC":
            for loom in self.looms:
                off = shift == "C" and base.random() < 0.03
                lines.append(_shift_row(base, f"{day}.{shift}", loom, off))
        # borderline C shifts: never flagged powered-off
        b = lines[2 * len(self.looms) + di % len(self.looms)]
        if di % 2:
            b[7], b[8] = "0", "399"
        else:
            b[7], b[8] = "0.1", "439.9"
        # empty numerics (coerced to 0)
        lines[di % len(lines)][5] = ""
        lines[(di * 7 + 3) % len(lines)][10] = ""
        if rev:
            p = random.Random(f"{self.seed}:{day}:{rev}")
            for i, row in enumerate(lines):
                if p.random() < 0.05:  # changed values
                    row[6] = f"{p.randint(5000, 9900) / 100:.2f}"
                    row[10] = f"{p.randint(2000, 9000) / 10:.1f}"
                if row[0].endswith(".C") and p.random() < 0.02:
                    # late powered-off export of a shift already on
                    # record: first-write-wins must keep the old row
                    lines[i] = _shift_row(p, row[0], row[1], True)
        out = [",".join(r) for r in lines]
        # truncated row: measures from column 39 on absent
        t = (di * 11 + 5) % len(out)
        out[t] = ",".join(out[t].split(",")[:39])
        # exact duplicate row inside the file
        out.append(out[(di * 13 + 1) % len(out)])
        if di % 7 == 3:
            out.append(f"{day}.A,{self.looms[0]}")  # short row: dropped
        if day.day > 1:
            # late row for yesterday's C shift, newer file wins
            late = _shift_row(random.Random(f"{self.seed}:{day}:late:{rev}"),
                              f"{day - dt.timedelta(days=1)}.C",
                              self.looms[di % len(self.looms)], False)
            out.append(",".join(late))
        text = "\n".join(out) + "\n"
        return BOM + text if day.day == 1 else text

    def _write(self, day: dt.date, rev: int) -> None:
        d = os.path.join(self.root, f"{day:%Y-%m}", "daily")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{day}.csv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(self._rows(day, rev))
        t = _T0 + self.generation * _GEN_STRIDE + (day - self.start).days * 60
        os.utime(path, (t, t))

    # -- lake evolution -----------------------------------------------
    def write_backfill(self, n_days: int) -> list[str]:
        """Land the first ``n_days`` days; returns their months."""
        for i in range(n_days):
            day = self.start + dt.timedelta(days=i)
            self._write(day, 0)
            self.days.append(day)
        return self.months(self.days)

    def write_cycle(self) -> list[str]:
        """One poll-loop export: land the next day and re-export the
        last two months (new revision, changed values, late powered-off
        C shifts). Returns the two months to re-import."""
        self.generation += 1
        nxt = self.days[-1] + dt.timedelta(days=1)
        self.days.append(nxt)
        last = self.months(self.days)[-2:]
        for day in self.days:
            if f"{day:%Y-%m}" in last:
                self._write(day, self.generation)
        return last

    @staticmethod
    def months(days) -> list[str]:
        return sorted({f"{d:%Y-%m}" for d in days})


def _num(x: str | None) -> float:
    if x is None:
        return 0.0
    try:
        return float(x.strip())
    except ValueError:
        return 0.0


def _powered_off(key: str, row: list) -> bool:
    return key.endswith(".C") and row[7] == 0.0 and row[8] >= 400.0


class ExpectedTable:
    """Independent model of the versioned fact table: key
    ``(DataTurno, Tear)`` → typed row (71 fields, col 3 dropped later)."""

    def __init__(self):
        self.rows: dict[tuple[str, str], list] = {}

    @staticmethod
    def read_batch(root: str, months: list[str]) -> dict[tuple[str, str], list]:
        """Parse ``months``' day files, drop short rows and keep one row
        per key: newest mtime, then larger file name, wins."""
        best: dict[tuple[str, str], tuple] = {}
        for m in months:
            for path in sorted(glob.glob(os.path.join(root, m, "daily", "*"))):
                if not path.lower().endswith(".csv"):
                    continue
                mtime = os.stat(path).st_mtime
                with open(path, encoding="utf-8-sig", newline="") as f:
                    text = f.read()
                for line in text.split("\n"):
                    if not line:
                        continue
                    f_ = line.split(",")
                    f_ += [None] * (N_COLUMNS - len(f_))
                    s = [None if v is None else (v.strip() or None) for v in f_[:5]]
                    if not s[0] or not s[1] or s[2] is None:
                        continue
                    row = s + [_num(v) for v in f_[5:N_COLUMNS]]
                    key = (s[0], s[1])
                    prec = (mtime, path)
                    old = best.get(key)
                    if old is None or prec > old[0]:
                        best[key] = (prec, row)
                    elif prec == old[0] and row != old[1]:
                        raise ValueError(f"ambiguous duplicate {key} in {path}")
        return {k: v[1] for k, v in best.items()}

    def apply(self, batch: dict[tuple[str, str], list]) -> None:
        """First-write-wins MERGE: a powered-off row only inserts."""
        for key, row in batch.items():
            if key in self.rows and _powered_off(key[0], row):
                continue
            self.rows[key] = row
