"""Seeded boat-listings CSV generator.

Every record starts from a row of the program's dirt fixture
(src/test/resources/boat_mini.csv), so each dirt class it carries
(mojibake currency and separators, accents, quoted commas, null
fields, year 0 and out-of-range years, unknown currency, unmapped
countries) appears at scale, and every Location stays inside the
summary oracle's country dictionary. Prices, views, years and sizes
are redrawn; blank lines are scattered; with `multiline_share` > 0 that
share of records gets a newline inside a quoted field, as the real
Kaggle export has.
"""
import csv
import random
from pathlib import Path

FIXTURE = Path("src") / "test" / "resources" / "boat_mini.csv"


def generate(root: Path, out: Path, seed: int, records: int,
             multiline_share: float) -> int:
    """Writes `records` records to `out`; returns the file's byte size."""
    with open(root / FIXTURE, encoding="utf-8", newline="") as f:
        rows = list(csv.reader(f))
    header, rows = rows[0], [r for r in rows[1:] if r]
    rng = random.Random(seed)
    with open(out, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        for _ in range(records):
            r = list(rng.choice(rows))
            currency = r[0].split(" ")[0]
            r[0] = f"{currency} {rng.randint(500, 900000)}"
            u = rng.random()
            r[4] = "0" if u < 0.02 else "2150" if u < 0.03 else str(rng.randint(1960, 2025))
            if r[5]:
                r[5] = f"{rng.uniform(2.0, 30.0):.2f}"
            if r[6]:
                r[6] = f"{rng.uniform(1.0, 8.0):.2f}"
            r[9] = str(rng.randint(0, 1000))
            if rng.random() < multiline_share:
                # Boat Type is read by no check and no summary column,
                # so the break tests the parser, not the cleaning rules
                cut = rng.randint(1, len(r[1]) - 1)
                r[1] = r[1][:cut] + "\n" + r[1][cut:]
            w.writerow(r)
            if rng.random() < 0.01:
                f.write("\n")
    return out.stat().st_size
