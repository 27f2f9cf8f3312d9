"""Seeded benchmark inputs, built before any timed window.

Two kinds of input:

* ``table_copy``: the benchmark-owned fixture tables under ``data/sf*``,
  with each table's rows permuted by the seed and split into
  ``SPLIT_FILES`` parquet files. Every registered query and its DuckDB
  oracle are order-insensitive, so results and hashes do not depend on the
  seed; the seed only moves rows between files and row groups.
* ``soda_pages``: SODA-style pages for the portal workload — JSON rows
  whose values are all strings, as the portal API returns them.

Both are pure functions of the seed. Table copies are cached per seed
under the work directory.
"""

from __future__ import annotations

import datetime
import os
import random
import shutil

DATA_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SPLIT_FILES = 4
KEEP_COPIES = 4

PAGE_ROWS = 1000
PORTAL_PAGES = 10

ISLANDS = ("Oahu", "Maui", "Hawaii", "Kauai", "Molokai", "Lanai")
PERMIT_TYPES = ("building", "electrical", "plumbing", "demolition", "solar", "grading")
WORDS = (
    "repair roof solar panel install new dwelling addition garage fence "
    "remodel kitchen bath wall retaining pool deck water heater photovoltaic "
    "commercial tenant improvement reroof window door"
).split()


def table_copy(scale: str, seed: int, work_dir: str) -> str:
    """Directory holding ``{table}.parquet/part-*.parquet`` for ``scale``,
    rows permuted by ``seed``. Built once per (scale, seed); older copies
    beyond ``KEEP_COPIES`` are removed."""
    import numpy as np
    import pyarrow.parquet as pq

    src = os.path.join(DATA_ROOT, scale)
    root = os.path.join(work_dir, "inputs")
    out = os.path.join(root, f"{scale}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        table = pq.read_table(os.path.join(src, name))
        table = table.take(rng.permutation(table.num_rows))
        tdir = os.path.join(tmp, name)
        os.makedirs(tdir)
        bounds = np.linspace(0, table.num_rows, SPLIT_FILES + 1).astype(int)
        for i in range(SPLIT_FILES):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(tdir, f"part-{i:05d}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.replace(tmp, out)
    copies = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if not d.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for old in copies[:-KEEP_COPIES]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def soda_pages(seed: int, pages: int = PORTAL_PAGES, page_rows: int = PAGE_ROWS) -> list[dict]:
    """All rows the portal serves, in page order. Every value is a string,
    as in a SODA JSON response; ``permit_no`` is unique."""
    rng = random.Random(seed)
    day0 = datetime.date(2015, 1, 1)
    rows = []
    for i in range(pages * page_rows):
        issued = day0 + datetime.timedelta(days=rng.randrange(3650))
        rows.append(
            {
                "permit_no": f"BP{issued.year}-{i:06d}",
                "island": rng.choice(ISLANDS),
                "permit_type": rng.choice(PERMIT_TYPES),
                "issued_date": issued.isoformat() + "T00:00:00.000",
                "valuation": f"{rng.randrange(100, 250_000_000) / 100:.2f}",
                "units": str(rng.randrange(0, 9)),
                "latitude": f"{rng.uniform(18.9, 22.3):.5f}",
                "longitude": f"{rng.uniform(-160.3, -154.8):.5f}",
                "description": " ".join(rng.choice(WORDS) for _ in range(rng.randrange(3, 12))),
            }
        )
    return rows


class PageServer:
    """In-memory SODA endpoint: ``fetch(offset, limit)`` returns a page.
    The first request for every ``fault_every``-th page raises a transient
    ``ConnectionResetError``, so the retry wrapper does real work."""

    def __init__(self, rows: list[dict], fault_every: int = 4):
        self.rows = rows
        self.fault_every = fault_every
        self.faulted: set[int] = set()

    def fetch(self, offset: int, limit: int) -> list[dict]:
        page = offset // PAGE_ROWS
        if self.fault_every and page % self.fault_every == 1 and page not in self.faulted:
            self.faulted.add(page)
            raise ConnectionResetError(f"transient fault on page {page}")
        return self.rows[offset : offset + limit]
