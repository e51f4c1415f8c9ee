"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed writes
byte-identical files. Generation is the load generator's cost, so the
benchmark times it apart from set-up (``bench.gen_s``).
"""

from __future__ import annotations

import csv

import numpy as np

CSV_COLUMNS = ["row_id", "ticket_id", "customer", "message"]
_WORDS = (
    "order refund late broken charge account password login shipping invoice "
    "screen battery update crash slow thanks please urgent again still error "
    "payment card address delivery box missing wrong size colour return label"
).split()


def ticket_rows(n_rows: int, seed: int) -> list[list[str]]:
    """Support-ticket rows in file order, blank rows included.

    ``ticket_id`` group sizes follow a Pareto law (a few long conversations,
    many short ones); about 1% of rows have a blank key (the ``unknown``
    bucket); messages vary in length and some hold quoted commas. Every
    200th line or so is all blank and must be dropped at ingest.
    """
    rng = np.random.default_rng(seed)
    sizes: list[int] = []
    while sum(sizes) < n_rows:
        sizes.append(int(min(1 + rng.pareto(1.2) * 15, 1000)))
    keys = np.repeat(np.arange(len(sizes)), sizes)[:n_rows]
    rng.shuffle(keys)
    blank_key = rng.random(n_rows) < 0.01
    lengths = np.clip(rng.lognormal(2.3, 0.8, n_rows).astype(int), 1, 120)
    rows: list[list[str]] = []
    for i in range(n_rows):
        words = rng.choice(_WORDS, lengths[i])
        msg = " ".join(words)
        if rng.random() < 0.1:
            msg = msg.replace(" ", ", ", 1)
        ticket = "" if blank_key[i] else f"T{keys[i]:05d}"
        rows.append([str(i), ticket, f"cust_{int(rng.integers(0, 500)):03d}", msg])
        if rng.random() < 0.005:
            rows.append(["", "", "", ""])
    return rows


def write_tickets_csv(path: str, n_rows: int, seed: int) -> None:
    """Write :func:`ticket_rows` as a CSV with a header row."""
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(CSV_COLUMNS)
        w.writerows(ticket_rows(n_rows, seed))
