"""Seeded eyeglasses-retail feed generator and its expected-count model.

The feed has the shape of the reference's daily product extract
(FIXTURES.md section A1): a header plus one row per listed product, every
value a string, UTF-8 Vietnamese labels, prices with a trailing space,
null (empty) fields, and duplicated rows. Day over day the catalog
changes: prices and quantities are edited, products are added and
dropped, null fields appear and disappear.

The model is computed here, independently of the library: it applies
the documented cleaning rules (trim + int cast of the price, digits-only
quantity defaulting to 0, "N/A" / -1 null fill, first row per natural
key wins) and counts what an SCD2 warehouse and a daily snapshot fact
over it must hold: keys (= open versions), total versions, and fact
rows for each day's calendar window.
"""
import csv
import datetime as dt
import os
import random

HEADER = ["sku", "product_name", "price", "brand", "material", "shape",
          "dimension", "origin", "quantity_available", "product_url"]

BRANDS = ["TITANTEC", "RAY-BAN", "GUCCI", "PRADA", "OAKLEY", "CHARMANT",
          "SILHOUETTE", "LINDBERG", "MOLSION", "PARIM", "HOYA", "POLICE",
          "CHEMI", "ESSILOR", "LACOSTE", "PORSCHE DESIGN"]
MATERIALS = ["Titanium", "Vàng nguyên khối 18K", "Nhựa cứng", "Kim loại",
             "Nhựa dẻo TR90", "Gỗ tự nhiên", "Sừng trâu", "Thép không gỉ"]
SHAPES = ["Chữ nhật", "Vuông", "Tròn", "Oval", "Mắt mèo", "Phi công",
          "Đa giác", "Bầu dục"]
ORIGINS = ["Nhật", "Trung", "Hàn", "Ý", "Pháp", "Đức", "Việt", "Mỹ"]
START = dt.date(2024, 12, 8)

# Day-over-day change rates: catalog size, then the shares of products
# listed twice, re-priced, re-stocked, added, dropped and with a field
# turning null (or back). 150 products plus ~50 repeats is the
# reference's ~200-row day.
PROFILE = dict(n=150, dup=0.33, price=0.08, qty=0.08, add=0.02, drop=0.02,
               null=0.02)


def _finish(row, rng=None):
    """Attach the product's feed cells, natural key and cleaned tuple.
    Quantities sometimes arrive as text ("Còn 4"); that choice is a
    property of the product, so an unchanged product repeats its cells."""
    if rng is not None:
        row["qty_text"] = rng.random() < 0.1
    cells = []
    for c in HEADER:
        v = row[c]
        if v is None:
            cells.append("")
        elif c == "price":
            cells.append(f"{v} ")
        elif c == "quantity_available":
            cells.append(f"Còn {v}" if row["qty_text"] else str(v))
        else:
            cells.append(v)
    row["cells"] = cells
    row["key"] = f"{row['product_name']}-{row['sku']}"
    row["clean"] = tuple(
        (row[c] if row[c] is not None else
         (-1 if c == "price" else 0 if c == "quantity_available" else "N/A"))
        for c in HEADER)
    return row


def _edit(row, **changes):
    return _finish(dict(row, **changes))


def _product(rng, i):
    brand = rng.choice(BRANDS)
    code = f"{brand[:2]}-{1000 + i}"
    row = {
        "sku": f"{code} {rng.randrange(48, 60)} C{rng.randrange(1, 20):02d}",
        "product_name": f"{brand} {code}",
        "price": rng.randrange(300, 40_000) * 1000,
        "brand": brand,
        "material": rng.choice(MATERIALS),
        "shape": rng.choice(SHAPES),
        "dimension": f"{rng.randrange(48, 60)}-{rng.randrange(14, 22)}-"
                     f"{rng.randrange(135, 150)}",
        "origin": rng.choice(ORIGINS),
        "quantity_available": rng.randrange(0, 40),
        "product_url": f"https://kinhmatviettin.vn/kinh-{code.lower()}.html",
    }
    for c, share in (("brand", 0.05), ("material", 0.05), ("origin", 0.03),
                     ("dimension", 0.03), ("price", 0.02),
                     ("quantity_available", 0.02)):
        if rng.random() < share:
            row[c] = None
    return _finish(row, rng)


def _days(rng, n_days):
    """Yield each day's feed rows (products, in file order)."""
    p = PROFILE
    live = [_product(rng, i) for i in range(p["n"])]
    next_id = p["n"]
    for day in range(n_days):
        if day > 0:
            n = len(live)
            for _ in range(max(1, round(n * p["drop"]))):
                live.pop(rng.randrange(len(live)))
            for _ in range(max(1, round(n * p["add"]))):
                live.append(_product(rng, next_id))
                next_id += 1
            for i in rng.sample(range(len(live)), round(n * p["price"])):
                live[i] = _edit(live[i], price=rng.randrange(300, 40_000) * 1000)
            for i in rng.sample(range(len(live)), round(n * p["qty"])):
                live[i] = _edit(live[i], quantity_available=rng.randrange(0, 40))
            for i in rng.sample(range(len(live)), max(1, round(n * p["null"]))):
                c, pool = rng.choice([("brand", BRANDS), ("material", MATERIALS),
                                      ("origin", ORIGINS)])
                live[i] = _edit(live[i], **{c: None if live[i][c] else
                                            rng.choice(pool)})
        rows = list(live)
        # duplicated rows: mostly exact repeats; some carry a different
        # quantity, and whichever copy comes first in the file wins
        for i in rng.sample(range(len(live)), round(len(live) * p["dup"])):
            rows.append(live[i] if rng.random() < 0.8 else
                        _edit(live[i], quantity_available=rng.randrange(40, 80)))
        rng.shuffle(rows)
        yield rows


class Model:
    """Expected SCD2 / fact counts of the chain, updated day by day."""

    def __init__(self):
        self.current = {}
        self.versions = 0
        self.seen_by_day = []

    def load(self, rows):
        snapshot = {}
        for r in rows:
            snapshot.setdefault(r["key"], r["clean"])
        for k, t in snapshot.items():
            if self.current.get(k) != t:
                self.versions += 1
                self.current[k] = t
        self.seen_by_day.append(len(self.current))

    def fact_rows(self):
        """Fact rows for the window from the chain's first day to the last
        day loaded: on each date, every key already seen has exactly one
        valid version."""
        return sum(self.seen_by_day)


def generate(seed, out_dir, days):
    """Write the feeds of a `days`-day chain; return its plan lines and
    expected model."""
    rng = random.Random(f"daily_warehouse/{seed}")
    model = Model()
    plan, fact = [], []
    os.makedirs(out_dir, exist_ok=True)
    for d, rows in enumerate(_days(rng, days)):
        day = START + dt.timedelta(days=d)
        path = os.path.join(out_dir, f"data_1_matkinh_daily_{day}_kinhmatviettin.vn.csv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(HEADER)
            w.writerows(r["cells"] for r in rows)
        model.load(rows)
        # the mart window of day d runs from the chain's first day to d
        plan.append("\t".join([str(day), os.path.abspath(path), str(START),
                               str(day), str(len(rows))]))
        fact.append(model.fact_rows())
    return plan, {"keys": len(model.current), "versions": model.versions,
                  "fact_rows": fact,
                  "days": [str(START + dt.timedelta(days=d)) for d in range(days)]}
