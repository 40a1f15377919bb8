"""Seeded purchase-line generator shared by every workload.

One ``random.Random(seed)`` stream decides everything: which invoices are
normal, which carry a planted fault, their lines, and the training CSV.
Lines use the reference's 8-field CSV wire format
(InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country).

Unit prices are multiples of 0.25, so a sum of prices is exact in binary
floating point whatever order the lines are added in: the streaming
sessionizer and the batch check compute bit-identical features, and an
invoice can never land on the other side of a threshold by rounding.
"""

from __future__ import annotations

import random

#: Planted shares of invoices by kind. ``normal`` takes the remainder.
SHARES = {
    "parse_error": 0.04,  # one line with a non-numeric quantity
    "missing_customer": 0.04,  # one line with an empty CustomerID
    "invalid_date": 0.04,  # one line with an unparsable InvoiceDate
    "missing_country": 0.04,  # one line with an empty Country
    "cancellation": 0.05,  # InvoiceNo prefixed with "C"
    "anomaly": 0.10,  # prices and quantities far outside every cluster
}

#: Share of extra lines that the parser drops silently (too few fields).
NOISE_SHARE = 0.01

#: Normal behaviour: (price range in quarters, quantity range, hour range).
#: Training and stream invoices draw from the same five profiles, which is
#: why the stream detectors use the reference's picks k=5 and k=3.
PROFILES = [
    ((1, 8), (1, 6), (9, 12)),  # small basket of cheap items
    ((4, 20), (2, 10), (12, 16)),  # mid-priced
    ((2, 6), (24, 48), (8, 11)),  # wholesale
    ((20, 48), (1, 2), (10, 15)),  # premium
    ((2, 12), (3, 12), (17, 19)),  # evening
]

COUNTRY = "United Kingdom"


def _line(no, qty, date, price, customer, country=COUNTRY) -> str:
    return f"{no},85123A,ITEM,{qty},{date},{price},{customer},{country}"


def _normal_lines(rng: random.Random, no: str, n_lines: int) -> list[str]:
    (plo, phi), (qlo, qhi), (hlo, hhi) = rng.choice(PROFILES)
    date = f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/2010 {rng.randint(hlo, hhi)}:{rng.randint(0, 59):02d}"
    customer = str(rng.randint(12000, 18999))
    return [
        _line(no, rng.randint(qlo, qhi), date, rng.randint(plo, phi) / 4, customer)
        for _ in range(n_lines)
    ]


def _fields(line: str) -> list[str]:
    return line.split(",")


def _with_field(line: str, index: int, value: str) -> str:
    f = _fields(line)
    f[index] = value
    return ",".join(f)


def make_invoice(rng: random.Random, no: str, kind: str, max_lines: int) -> list[str]:
    """The 1 to ``max_lines`` lines of one invoice of ``kind``."""
    n_lines = rng.randint(1, max_lines)
    if kind == "cancellation":
        no = "C" + no
    lines = _normal_lines(rng, no, n_lines)
    bad = rng.randrange(n_lines)
    if kind == "anomaly":
        lines = [
            _with_field(_with_field(ln, 5, str(rng.randint(600, 1600) / 4)), 3, str(rng.randint(200, 500)))
            for ln in lines
        ]
    elif kind == "parse_error":
        lines[bad] = _with_field(lines[bad], 3, "x" + _fields(lines[bad])[3])
    elif kind == "missing_customer":
        lines[bad] = _with_field(lines[bad], 6, "")
    elif kind == "invalid_date":
        lines[bad] = _with_field(lines[bad], 4, "bad-date")
    elif kind == "missing_country":
        lines[bad] = _with_field(lines[bad], 7, "")
    return lines


def _pick_kind(rng: random.Random) -> str:
    u = rng.random()
    for kind, share in SHARES.items():
        if u < share:
            return kind
        u -= share
    return "normal"


def make_stream(seed: int, n_lines: int, max_lines: int) -> list[str]:
    """A line sequence of about ``n_lines`` lines, in invoices of 1 to
    ``max_lines`` lines. Each invoice's lines are contiguous; noise lines
    sit between invoices."""
    rng = random.Random(f"stream-{seed}")
    lines: list[str] = []
    no = 500000
    while len(lines) < n_lines:
        if rng.random() < NOISE_SHARE:
            lines.append(f"{no}-noise,short line")
        lines.extend(make_invoice(rng, str(no), _pick_kind(rng), max_lines))
        no += 1
    return lines


def write_training_csv(path: str, seed: int, n_invoices: int) -> None:
    """Training CSV of normal invoices only, with the reference's header."""
    rng = random.Random(f"train-{seed}")
    with open(path, "w") as f:
        f.write("InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n")
        for i in range(n_invoices):
            for ln in _normal_lines(rng, str(100000 + i), rng.randint(1, 4)):
                f.write(ln + "\n")
