"""Seeded generator for pharma-shaped XML, with its exact ground truth.

Writes the seven files the paper's pipeline loads: one reps file and six
transaction files in the reference's 4000/4000/3000/20/20/20 proportions.
Record shapes match ``tests/pharma_fixtures.py``:

- reps: ``<rep rID="r123"><first_name/><last_name/><territory/></rep>``;
- txns: ``<txn><txnID/><prod/><repID/><customer><cust/><country/></customer>
  <date/><amount/></txn>``, dates as non-padded ``M/d/yyyy`` and the rep id
  without its ``r`` prefix.

The data plants the cases the pipeline's semantics hinge on: a customer
seen again with another country (first sighting wins), txns whose rep is
not in the reps file (dropped by the ``rep_facts`` inner join), amounts
with cents, and three years (the analytics filter on 2020).

The ground truth is computed in integer cents, so every total is exact; a
total becomes a float by the same single IEEE conversion the engine's
``money_sum`` uses (``float(cents) / 100``).
"""

from __future__ import annotations

import random
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from xml.sax.saxutils import escape

FILE_SHARES = (4000, 4000, 3000, 20, 20, 20)
FIRST_NAMES = ["Ana", "Bruno", "Chen", "Dara", "Elif", "Femi", "Greta", "Hugo", "Ines", "Jun",
               "Kofi", "Lena", "Mateo", "Nia"]
LAST_NAMES = ["Alves", "Becker", "da Silva", "Dumont", "Eze", "Fischer", "Gomez", "Ito",
              "Kowalski", "Lund", "Moreau", "van Dijk", "Okafor", "Rossi"]
TERRITORIES = ["EMEA", "South America", "East", "West"]
COUNTRIES = ["USA", "Brazil", "Germany"]
COMPANY_WORDS = ["Acme", "Blue", "Cedar", "Delta", "Echo", "Falcon", "Granite", "Harbor",
                 "Iris", "Juniper", "Keystone", "Lumen", "Meridian", "Nova", "Orchid", "Pioneer"]
COMPANY_KINDS = ["Pharmacy", "Health", "Clinic", "Medical", "Care"]
SYLLABLES = ["al", "ar", "ax", "ben", "cor", "dra", "el", "fen", "ino", "lo", "mar", "no",
             "pho", "pro", "ra", "sol", "ta", "vex", "xi", "zen"]
YEARS = (2019, 2020, 2020, 2020, 2021)


@dataclass
class Truth:
    """Exact expected results of one full load of the generated files."""

    n_txns: int
    reps: list[tuple[str, str, str, str]]
    customers: list[tuple[int, str, str]]
    products: list[tuple[int, str]]
    product_facts: dict[tuple[str, int, int, str], float]
    rep_facts: dict[tuple[str, str, int, int, str], float]
    quarterly_totals_2020: list[tuple[int, float]]
    best_product_2020: tuple[str, float]
    rep_totals_2020: dict[tuple[str, str], float]
    rep_quarterly_sales: list[tuple[int, int, float]]
    xml_bytes: int = 0
    paths: dict[str, object] = field(default_factory=dict)


def _file_sizes(n_txns: int) -> list[int]:
    total = sum(FILE_SHARES)
    return [max(1, round(n_txns * s / total)) for s in FILE_SHARES]


def _money(cents: int) -> float:
    return float(cents) / 100


def _amount_text(cents: int) -> str:
    if cents % 100 == 0:
        return str(cents // 100)
    return f"{cents // 100}.{cents % 100:02d}"


def _drug_names(rng: random.Random, n: int) -> list[str]:
    names: list[str] = []
    while len(names) < n:
        name = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(3, 4))).capitalize()
        if name not in names:
            names.append(name)
    return names


def generate(out_dir: str | Path, seed: int, n_txns: int) -> Truth:
    """Write the seven XML files under ``out_dir`` and return their truth."""
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    rep_ids = rng.sample(range(100, 1000), 12)
    reps = [
        (f"r{rid}", rng.choice(FIRST_NAMES), rng.choice(LAST_NAMES), rng.choice(TERRITORIES))
        for rid in rep_ids
    ]
    # (first, last) must identify a rep: rep_facts groups by name
    seen_names: set[tuple[str, str]] = set()
    for i, (rid, first, last, terr) in enumerate(reps):
        while (first, last) in seen_names:
            first, last = rng.choice(FIRST_NAMES), rng.choice(LAST_NAMES)
        seen_names.add((first, last))
        reps[i] = (rid, first, last, terr)
    active_reps = [r[0][1:] for r in reps[:10]]  # two reps never sell
    unknown_rep = "99"  # not a 3-digit id: no rep matches after the repair

    products = _drug_names(rng, 10)
    companies = [f"{a} {k}" for a in COMPANY_WORDS for k in COMPANY_KINDS]
    customers = rng.sample(companies, 24)
    home = {c: rng.choice(COUNTRIES) for c in customers}

    reps_path = out / "pharmaReps.xml"
    with open(reps_path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<reps>\n')
        for rid, first, last, terr in reps:
            f.write(
                f'  <rep rID="{escape(rid)}"><first_name>{escape(first)}</first_name>'
                f"<last_name>{escape(last)}</last_name>"
                f"<territory>{escape(terr)}</territory></rep>\n"
            )
        f.write("</reps>\n")

    first_cust: dict[str, str] = {}
    cust_order: list[str] = []
    prod_order: list[str] = []
    rows: list[tuple[str, str, str, int, int, int]] = []  # prod, rep, cust, year, q, cents
    txn_paths: list[str] = []
    for i, n in enumerate(_file_sizes(n_txns), start=1):
        p = out / f"pharmaSalesTxn-{i}.xml"
        txn_paths.append(str(p))
        with open(p, "w") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<txns>\n')
            for _ in range(n):
                prod = rng.choice(products)
                cust = rng.choice(customers)
                country = home[cust] if rng.random() >= 0.03 else rng.choice(COUNTRIES)
                rep = active_reps[rng.randrange(len(active_reps))] if rng.random() >= 0.01 else unknown_rep
                year, month = rng.choice(YEARS), rng.randint(1, 12)
                day = rng.randint(1, 28)
                cents = rng.randint(4, 7740) * 100
                if rng.random() < 0.2:
                    cents += rng.randint(1, 99)
                f.write(
                    "  <txn>"
                    f"<txnID>{rng.randint(1001, 5000)}</txnID>"
                    f"<prod>{escape(prod)}</prod>"
                    f"<repID>{rep}</repID>"
                    f"<customer><cust>{escape(cust)}</cust>"
                    f"<country>{country}</country></customer>"
                    f"<date>{month}/{day}/{year}</date>"
                    f"<amount>{_amount_text(cents)}</amount>"
                    "</txn>\n"
                )
                if cust not in first_cust:
                    first_cust[cust] = country
                    cust_order.append(cust)
                if prod not in prod_order:
                    prod_order.append(prod)
                rows.append((prod, rep, cust, year, (month - 1) // 3 + 1, cents))
            f.write("</txns>\n")

    truth = _truth(reps, cust_order, first_cust, prod_order, rows)
    truth.paths = {"reps": str(reps_path), "txns": txn_paths}
    truth.xml_bytes = sum(Path(p).stat().st_size for p in [reps_path, *txn_paths])
    return truth


def _truth(reps, cust_order, first_cust, prod_order, rows) -> Truth:
    rep_by_id = {rid: (first, last) for rid, first, last, _ in reps}
    pf: dict[tuple, int] = defaultdict(int)
    rf: dict[tuple, int] = defaultdict(int)
    for prod, rep, cust, year, q, cents in rows:
        pf[(prod, year, q, first_cust[cust])] += cents
        name = rep_by_id.get("r" + rep)
        if name is not None:
            rf[(*name, year, q, prod)] += cents

    quarters: dict[int, int] = defaultdict(int)
    by_product: dict[str, int] = defaultdict(int)
    for (prod, year, q, _), cents in pf.items():
        if year == 2020:
            quarters[q] += cents
            by_product[prod] += cents
    best = min(by_product.items(), key=lambda kv: (-kv[1], kv[0]))
    rep_2020: dict[tuple[str, str], int] = defaultdict(int)
    rep_q: dict[tuple[int, int], int] = defaultdict(int)
    for (first, last, year, q, _), cents in rf.items():
        rep_q[(year, q)] += cents
        if year == 2020:
            rep_2020[(first, last)] += cents

    return Truth(
        n_txns=len(rows),
        reps=list(reps),
        customers=[(i, c, first_cust[c]) for i, c in enumerate(cust_order, start=1)],
        products=[(i, p) for i, p in enumerate(prod_order, start=1)],
        product_facts={k: _money(v) for k, v in pf.items()},
        rep_facts={k: _money(v) for k, v in rf.items()},
        quarterly_totals_2020=[(q, _money(quarters[q])) for q in sorted(quarters)],
        best_product_2020=(best[0], _money(best[1])),
        rep_totals_2020={k: _money(v) for k, v in rep_2020.items()},
        rep_quarterly_sales=[(y, q, _money(v)) for (y, q), v in sorted(rep_q.items())],
    )


def check_load(observed: dict, truth: Truth, keys=None) -> list[str]:
    """Compare one load's collected results with the truth.

    ``observed`` maps keys of :func:`truth_view` to the same shape built
    from the Spark rows; ``keys`` limits the check to some parts (default:
    all). Returns one message per disagreeing part; an empty list means
    the load is correct.
    """
    expected = truth_view(truth)
    return [f"{k}: expected {expected[k]!r:.200}, got {observed.get(k)!r:.200}"
            for k in (expected if keys is None else keys) if observed.get(k) != expected[k]]


def truth_view(truth: Truth) -> dict:
    """The truth in the comparable shape :func:`check_load` expects."""
    return {
        "salestxn_rows": truth.n_txns,
        "reps": sorted(truth.reps),
        "customers": truth.customers,
        "products": truth.products,
        "product_facts": truth.product_facts,
        "rep_facts": truth.rep_facts,
        "quarterly_totals_2020": truth.quarterly_totals_2020,
        "best_product_2020": truth.best_product_2020,
        "rep_totals_2020": truth.rep_totals_2020,
        "rep_quarterly_sales": truth.rep_quarterly_sales,
    }
