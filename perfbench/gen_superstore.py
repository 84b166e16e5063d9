"""Seeded Superstore extract generator with ground truth.

Writes a day-1 extract and a day-2 full refreshed extract in the byte
format of the reference `superstore.csv` (all five documented quirks:
trailing `;` before CRLF, fully-quoted rows with doubled inner quotes,
quoted embedded commas, cp1252 0xA0 NBSP bytes, CRLF line endings), plus
M/d/yyyy dates and duplicate order lines.

Ground truth is derived from the generator's own model of the data with
the documented semantics of `graft.superstore` (dedup per (order, product),
MAX-attribute snapshots, SCD2 change detection, zero-padded postal codes),
never by running the program. The program under test receives only the
CSV files.
"""
import datetime as dt
import hashlib
import random
from decimal import Decimal, ROUND_HALF_UP

REGION_STATES = {
    "Central": ["Texas", "Illinois", "Michigan", "Indiana", "Wisconsin", "Minnesota"],
    "East": ["New York", "Pennsylvania", "Ohio", "Massachusetts", "New Jersey", "Rhode Island"],
    "South": ["Florida", "Georgia", "Virginia", "Tennessee", "Kentucky", "Alabama"],
    "West": ["California", "Washington", "Oregon", "Arizona", "Colorado", "Utah"],
}
# East states carry leading-zero postal codes, which the extract loses
LEADING_ZERO = {"Massachusetts", "New Jersey", "Rhode Island"}
SEGMENTS = ["Consumer", "Corporate", "Home Office"]
SHIP_MODES = ["First Class", "Same Day", "Second Class", "Standard Class"]
CATEGORIES = {
    "Furniture": ["Bookcases", "Chairs", "Furnishings", "Tables"],
    "Office Supplies": ["Appliances", "Art", "Binders", "Envelopes", "Fasteners",
                        "Labels", "Paper", "Storage", "Supplies"],
    "Technology": ["Accessories", "Copiers", "Machines", "Phones"],
}
FIRST = ["Claire", "Darrin", "Sean", "Brosina", "Andrew", "Irene", "Harold", "Pete",
         "Alejandro", "Zuschuss", "Ken", "Sandra", "Emily", "Eric", "Tracy", "Matt",
         "Gene", "Steve", "Linda", "Ruben"]
LAST = ["Gute", "Van Huff", "O'Donnell", "Hoffman", "Allen", "Maddox", "Pawlan",
        "Kriz", "Grayson", "Carroll", "Black", "Flathmann", "Grady", "Hoffmann",
        "Blumstein", "Murray", "Hale", "O'Briant", "Ausman", "Dominguez"]
SYLL = ["ber", "lan", "ton", "mar", "vil", "den", "ford", "ham", "wood", "dale",
        "ridge", "port", "field", "brook", "chester", "ville"]
BRANDS = ["Bush", "Hon", "Eldon", "Avery", "Acme", "Fellowes", "Logitech", "Xerox",
          "Samsung", "Global", "Novimex", "Tenex", "Wilson Jones", "Cisco"]
NOUNS = ["Bookcase", "Chair", "Frame", "Table", "Fan", "Pens", "Binder", "Envelope",
         "Clips", "Labels", "Paper", "Cart", "Shelf", "Mouse", "Copier", "Printer",
         "Phone", "Headset"]
COLORS = ["Light Brown", "Black", "Cherry", "Oak", "Gray", "Blue"]
DISCOUNTS = ["0", "0", "0", "0", "0.1", "0.2", "0.2", "0.3", "0.4", "0.5", "0.6",
             "0.7", "0.8"]
HEADER = ["Row ID", "Order ID", "Order Date", "Ship Date", "Ship Mode",
          "Customer ID", "Customer Name", "Segment", "Country", "City", "State",
          "Postal Code", "Region", "Product ID", "Category", "Sub-Category",
          "Product Name", "Sales", "Quantity", "Discount", "Profit"]
NBSP = "\u00a0"
DAY1_START, DAY1_END = dt.date(2014, 1, 1), dt.date(2017, 12, 31)
DAY2_START, DAY2_END = dt.date(2018, 1, 1), dt.date(2018, 3, 31)

# dashboard slicer domain
REGION_OPTIONS = [None] + [
    sorted(c) for c in (
        ["West"], ["East"], ["Central"], ["South"], ["East", "West"],
        ["Central", "South"], ["East", "South"], ["Central", "West"],
        ["Central", "East"], ["South", "West"], ["Central", "East", "West"],
        ["East", "South", "West"], ["Central", "South", "West"],
        ["Central", "East", "South"], ["Central", "East", "South", "West"])]
SEGMENT_OPTIONS = [None] + [
    sorted(c) for c in (
        ["Consumer"], ["Corporate"], ["Home Office"], ["Consumer", "Corporate"],
        ["Consumer", "Home Office"], ["Corporate", "Home Office"],
        ["Consumer", "Corporate", "Home Office"])]
YEAR_OPTIONS = [None, 2017, 2016, 2015, 2014]
SLICER_KINDS = ["pivotByCategory", "chartCategoryBar", "chartCategoryPie",
                "chartYearMonthLine", "pivotByOrderDate"]
# queries of each kind in every block of the stream: the kind mix is the
# same in every run, only the order and the slicer values vary with the seed
BLOCK = {"pivotByCategory": 4, "chartCategoryBar": 3, "chartCategoryPie": 3,
         "chartYearMonthLine": 2, "pivotByOrderDate": 1,
         "topProductsBySubCat": 2, "customerCohort": 1}
CENT = Decimal("0.01")


def money(x):
    return Decimal(x).quantize(CENT, rounding=ROUND_HALF_UP)


def mdy(d):
    return f"{d.month}/{d.day}/{d.year}"


def csv_field(s):
    if any(c in s for c in ',"'):
        return '"' + s.replace('"', '""') + '"'
    return s


class Model:
    """The generated warehouse world: geography, customers, products, orders."""

    def __init__(self, seed, n_orders):
        self.rng = random.Random(seed)
        self._geos()
        self.customers = {}
        self.products = {}
        self._customers(max(60, n_orders // 6))
        self._products(max(60, n_orders // 4))

    def _geos(self):
        rng = self.rng
        self.geos = []
        used = set()
        for region, states in REGION_STATES.items():
            for state in states:
                for _ in range(4):
                    while True:
                        city = "".join(rng.choice(SYLL) for _ in range(2)).capitalize()
                        if (city, state) not in used:
                            break
                    used.add((city, state))
                    lo = 1000 if state in LEADING_ZERO else 10000
                    postal = rng.randrange(lo, lo * 9)
                    self.geos.append({"city": city, "state": state, "region": region,
                                      "postal": f"{postal:05d}"})

    def _customers(self, n, start=0):
        rng = self.rng
        for i in range(start, start + n):
            first, last = rng.choice(FIRST), rng.choice(LAST)
            cid = f"{first[0]}{last[0]}-{10000 + i}"
            self.customers[cid] = {"name": f"{first} {last}",
                                   "segment": rng.choice(SEGMENTS),
                                   "home": rng.randrange(len(self.geos))}

    def _products(self, n, start=0):
        rng = self.rng
        cats = [(c, s) for c, subs in CATEGORIES.items() for s in subs]
        for i in range(start, start + n):
            cat, sub = rng.choice(cats)
            pid = f"{cat[:3].upper()}-{sub[:2].upper()}-{10000000 + i}"
            brand, noun = rng.choice(BRANDS), rng.choice(NOUNS)
            r = rng.random()
            if r < 0.2:       # embedded comma
                name = f"{brand} {noun} {i}, {rng.choice(COLORS)}"
            elif r < 0.3:     # inch mark: a quote inside a quoted field
                name = f'{brand} {rng.randrange(3, 30)}" {noun} {i}'
            elif r < 0.4:     # cp1252 NBSP between words
                name = f"{brand}{NBSP}{noun} {i}"
            else:
                name = f"{brand} {noun} {i}"
            self.products[pid] = {"category": cat, "sub": sub, "name": name,
                                  "price": Decimal(rng.randrange(200, 90000)) / 100}

    def order_lines(self, oid_start, count, lo, hi, cust_ids, prod_ids):
        rng = self.rng
        span = (hi - lo).days
        lines = []
        for i in range(oid_start, oid_start + count):
            od = lo + dt.timedelta(days=rng.randrange(span + 1))
            sd = od + dt.timedelta(days=rng.randrange(0, 8))
            oid = f"{rng.choice(['CA', 'US'])}-{od.year}-{100000 + i}"
            cid = rng.choice(cust_ids)
            c = self.customers[cid]
            geo = c["home"] if rng.random() < 0.9 else rng.randrange(len(self.geos))
            mode = rng.choice(SHIP_MODES)
            for pid in rng.sample(prod_ids, rng.randint(1, 5)):
                p = self.products[pid]
                qty = rng.randint(1, 14)
                disc = Decimal(rng.choice(DISCOUNTS))
                sales = money(p["price"] * qty * (1 - disc))
                # keep margins clear of the suspicious-discount band edges
                while True:
                    profit = money(sales * Decimal(rng.randrange(-400, 450)) / 1000)
                    m = profit / sales
                    if abs(m - Decimal("0.05")) > Decimal("0.002") and \
                            abs(m - Decimal("0.5")) > Decimal("0.002"):
                        break
                lines.append(self.attrs({"order_id": oid, "od": od, "sd": sd,
                                         "mode": mode, "cid": cid, "geo": geo,
                                         "pid": pid, "qty": qty, "disc": disc,
                                         "sales": sales, "profit": profit}))
        return lines

    def attrs(self, ln):
        """A copy of the line carrying the model's CURRENT attribute values."""
        c = self.customers[ln["cid"]]
        g = self.geos[ln["geo"]]
        p = self.products[ln["pid"]]
        return dict(ln, cname=c["name"], segment=c["segment"], city=g["city"],
                    state=g["state"], postal=g["postal"], region=g["region"],
                    cat=p["category"], sub=p["sub"], pname=p["name"])


def render(lines, rng, dup_rate):
    """Extract bytes: header + lines (with exact duplicates), all quirks."""
    out = [",".join(HEADER) + ";\r\n"]
    rows = []
    for ln in lines:
        rows.append(ln)
        if rng.random() < dup_rate:
            rows.append(ln)
    for rid, ln in enumerate(rows, start=1):
        fields = [str(rid), ln["order_id"], mdy(ln["od"]), mdy(ln["sd"]), ln["mode"],
                  ln["cid"], ln["cname"], ln["segment"], "United States", ln["city"],
                  ln["state"], ln["postal"].lstrip("0"), ln["region"], ln["pid"],
                  ln["cat"], ln["sub"], ln["pname"], str(ln["sales"]), str(ln["qty"]),
                  format(ln["disc"].normalize(), "f"), str(ln["profit"])]
        body = ",".join(csv_field(f) for f in fields)
        if rng.random() < 0.25:   # the whole row wrapped as one quoted field
            body = '"' + body.replace('"', '""') + '"'
        out.append(body + ";\r\n")
    return "".join(out).encode("cp1252"), len(rows)


def dedup(lines):
    seen = {}
    for ln in lines:
        seen.setdefault((ln["order_id"], ln["pid"]), ln)
    return list(seen.values())


def snapshots(lines):
    """MAX-attribute snapshots per natural key, as StarSchema builds them."""
    cust, prod = {}, {}
    for ln in lines:
        cur = cust.get(ln["cid"])
        vals = (ln["cname"], ln["segment"], ln["region"])
        cust[ln["cid"]] = vals if cur is None else tuple(max(a, b) for a, b in zip(cur, vals))
        k = (ln["pid"], ln["cat"], ln["sub"])
        prod[k] = max(prod.get(k, ln["pname"]), ln["pname"])
    return cust, prod


def fmt(v):
    """Canonical cell text, identical to the JVM harness's encoding."""
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return format(Decimal(v), "f")
    if isinstance(v, Decimal):
        if v == 0:
            v = abs(v)
        return format(v, "f")
    return str(v)


def digest(rows, ordered):
    lines = ["\x1f".join(fmt(v) for v in r) for r in rows]
    if not ordered:
        lines.sort()
    return len(lines), hashlib.md5("\n".join(lines).encode("utf-8")).hexdigest()


def last_day(d):
    nxt = dt.date(d.year + (d.month == 12), d.month % 12 + 1, 1)
    return nxt - dt.timedelta(days=1)


class Truth:
    """Ground truth for both extracts and for every dashboard slicer."""

    def __init__(self, day1, day2):
        self.d1 = dedup(day1)
        self.d2 = dedup(day2)
        self.cust_keys = {cid: i + 1 for i, cid in
                          enumerate(sorted({ln["cid"] for ln in self.d1}))}

    def etl(self, day1_physical, day2_physical):
        d1, d2 = self.d1, self.d2
        cust1, prod1 = snapshots(d1)
        cust2, prod2 = snapshots(d2)
        d1_keys = {(ln["order_id"], ln["pid"]) for ln in d1}
        new_lines = [ln for ln in d2 if (ln["order_id"], ln["pid"]) not in d1_keys]
        fact2 = d1 + new_lines
        changed_c = sum(1 for k, v in cust2.items() if k in cust1 and cust1[k] != v)
        changed_p = sum(1 for k, v in prod2.items() if k in prod1 and prod1[k] != v)
        marts = self._marts(d1)
        return {
            "day1": {
                "lines": day1_physical, "dedup_survivors": len(d1),
                "fact_rows": len(d1), "null_keys": 0,
                "sum_sales": fmt(sum(ln["sales"] for ln in d1)),
                "sum_quantity": sum(ln["qty"] for ln in d1),
                "dims": {"date": (max(ln["sd"] for ln in d1) -
                                  min(ln["od"] for ln in d1)).days + 1,
                         "ship_mode": len({ln["mode"] for ln in d1}),
                         "category": len({ln["cat"] for ln in d1}),
                         "sub_category": len({ln["sub"] for ln in d1}),
                         "geography": len({(ln["city"], ln["state"], ln["postal"],
                                            ln["region"]) for ln in d1}),
                         "customer": len(cust1), "product": len(prod1)},
                "marts": marts,
            },
            "day2": {
                "lines": day2_physical, "dedup_survivors": len(d2),
                "fact_rows": len(fact2), "null_keys": 0,
                "sum_sales": fmt(sum(ln["sales"] for ln in fact2)),
                "sum_quantity": sum(ln["qty"] for ln in fact2),
                # day 2 lands the SCD2 dims; the fact's null-key check covers
                # the insert-only merges
                "dims": {"customer": len(cust1) + changed_c + len(set(cust2) - set(cust1)),
                         "customer_current": len(set(cust1) | set(cust2)),
                         "product": len(prod1) + changed_p + len(set(prod2) - set(prod1)),
                         "product_current": len(set(prod1) | set(prod2))},
                "scd2_changed": {"customer": changed_c, "product": changed_p},
            },
        }

    def _marts(self, d1):
        n = len(d1)
        qty = sum(ln["qty"] for ln in d1)
        dates = {ln["od"] for ln in d1}
        months = {(d.year, d.month) for d in dates}
        years = {d.year for d in dates}
        suspicious = sum(1 for ln in d1 if ln["disc"] > 0 and not (
            Decimal("0.05") <= ln["profit"] / ln["sales"] <= Decimal("0.5")))
        cohort = {(self.cust_keys[ln["cid"]], last_day(ln["od"])) for ln in d1}
        return {
            "loadIssues": {"rows": 3, "NULL_DATES": 0,
                           "NEGATIVE_PROFIT": sum(1 for ln in d1 if ln["profit"] < 0),
                           "INCONSISTENT_GEOGRAPHY": 0},
            "rolling30": {"rows": n},
            "customerCohort": {"rows": len(cohort), "sum": n},
            "topProducts": {"rows": len(self.top_products(None))},
            "suspiciousDiscounts": {"rows": suspicious},
            "pivotByCategory": {"rows": 1 + len({ln["cat"] for ln in d1}),
                                "sum": 2 * n, "sum_quantity": 2 * qty},
            "pivotByOrderDate": {"rows": len(dates) + len(months) + len(years) + 1,
                                 "sum": 4 * n},
        }

    # ---------------------------------------------------------- dashboard

    def _sliced(self, regions, segments):
        return [ln for ln in self.d1
                if (regions is None or ln["region"] in regions)
                and (segments is None or ln["segment"] in segments)]

    def _measures(self, lines, key):
        acc = {}
        for ln in lines:
            k = key(ln)
            a = acc.setdefault(k, [0, 0])
            a[0] += 1
            a[1] += ln["qty"]
        return acc

    def answer(self, kind, regions, segments, year):
        """(ordered, rows) exactly as the mart returns them."""
        cat = lambda ln: ln["cat"]
        if kind in SLICER_KINDS:
            lines = self._sliced(regions, segments)
            if kind == "pivotByCategory":
                rows = [(c, n, n, q) for c, (n, q) in self._measures(lines, cat).items()]
                rows.append((None, len(lines), len(lines), sum(ln["qty"] for ln in lines)))
                return False, rows
            if kind == "chartCategoryBar":
                return True, sorted((c, n, n, q) for c, (n, q) in
                                    self._measures(lines, cat).items())
            if kind == "chartCategoryPie":
                total = len(lines)
                return True, sorted((c, n, float(n) / float(total)) for c, (n, _) in
                                    self._measures(lines, cat).items())
            if kind == "chartYearMonthLine":
                acc = self._measures(lines, lambda ln: (ln["od"].year, ln["od"].month))
                return True, sorted((y, mo, n, n, q) for (y, mo), (n, q) in acc.items())
            if kind == "pivotByOrderDate":
                rows = []
                for (y, mo, d), (n, q) in self._measures(
                        lines, lambda ln: (ln["od"].year, ln["od"].month, ln["od"])).items():
                    rows.append((y, mo, d, n, n, q, 0))
                for (y, mo), (n, q) in self._measures(
                        lines, lambda ln: (ln["od"].year, ln["od"].month)).items():
                    rows.append((y, mo, None, n, n, q, 1))
                for (y,), (n, q) in self._measures(lines, lambda ln: (ln["od"].year,)).items():
                    rows.append((y, None, None, n, n, q, 3))
                rows.append((None, None, None, len(lines), len(lines),
                             sum(ln["qty"] for ln in lines), 7))
                return False, rows
        if kind == "topProductsBySubCat":
            return False, self.top_products(year)
        if kind == "customerCohort":
            return False, self.cohort(year)
        raise ValueError(kind)

    def _year_lines(self, year):
        return [ln for ln in self.d1 if year is None or ln["od"].year == year]

    def top_products(self, year):
        profits = {}
        for ln in self._year_lines(year):
            k = (ln["sub"], ln["pname"])
            profits[k] = profits.get(k, Decimal(0)) + ln["profit"]
        by_sub = {}
        for (sub, name), tp in profits.items():
            by_sub.setdefault(sub, []).append((name, tp))
        rows = []
        for sub, items in by_sub.items():
            total = sum(tp for _, tp in items)
            for name, tp in items:
                rank = 1 + sum(1 for _, o in items if o > tp)
                if rank > 5:
                    continue
                share = None if total == 0 else (
                    (tp / total).quantize(Decimal("1e-8"), rounding=ROUND_HALF_UP)
                    .quantize(Decimal("1e-4"), rounding=ROUND_HALF_UP))
                rows.append((sub, name, tp, share, rank))
        return rows

    def cohort(self, year):
        first, months = {}, {}
        for ln in self._year_lines(year):
            k = self.cust_keys[ln["cid"]]
            d = ln["od"]
            first[k] = min(first.get(k, d), d)
            mk = (k, last_day(d))
            months[mk] = months.get(mk, 0) + 1
        rows = []
        for (k, om), n in months.items():
            f = first[k]
            rows.append((k, last_day(f), om, (om.year * 12 + om.month) -
                         (f.year * 12 + f.month), n))
        return rows


def zipf_pick(rng, options, s=1.1):
    weights = [1.0 / (i + 1) ** s for i in range(len(options))]
    return rng.choices(options, weights=weights)[0]


def slicer_stream(seed, n):
    """Seeded dashboard query stream: (kind, regions, segments, year).

    Blocks of sum(BLOCK.values()) queries with a fixed kind mix, shuffled;
    slicer values are Zipf-skewed, so popular combinations repeat."""
    rng = random.Random(seed * 7919 + 17)
    out = []
    while len(out) < n:
        block = [k for k, c in BLOCK.items() for _ in range(c)]
        rng.shuffle(block)
        for kind in block:
            if kind in SLICER_KINDS:
                out.append((kind, zipf_pick(rng, REGION_OPTIONS),
                            zipf_pick(rng, SEGMENT_OPTIONS), None))
            else:
                out.append((kind, None, None, zipf_pick(rng, YEAR_OPTIONS)))
    return out[:n]


def stream_line(q):
    kind, regions, segments, year = q
    return "\t".join([kind, ",".join(regions) if regions else "*",
                      ",".join(segments) if segments else "*",
                      str(year) if year else "*"])


def generate(seed, n_orders):
    """Returns (day1 bytes, day2 bytes, Truth, physical line counts)."""
    model = Model(seed, n_orders)
    rng = model.rng
    cust_ids = sorted(model.customers)
    prod_ids = sorted(model.products)
    day1 = model.order_lines(0, n_orders, DAY1_START, DAY1_END, cust_ids, prod_ids)
    day1_bytes, n1 = render(day1, random.Random(seed * 31 + 1), 0.01)

    # day 2: attribute drift, new customers/products, new orders; the
    # extract is the FULL refresh (every day-1 line is re-sent)
    for cid in rng.sample(cust_ids, max(1, len(cust_ids) // 20)):
        c = model.customers[cid]
        c["name"] = c["name"].split(" ")[0] + " " + rng.choice(LAST) + "-" + rng.choice(LAST)
    for pid in rng.sample(prod_ids, max(1, len(prod_ids) // 20)):
        model.products[pid]["name"] += " v2"
    n_new_c = max(5, len(cust_ids) // 25)
    n_new_p = max(5, len(prod_ids) // 25)
    model._customers(n_new_c, start=len(cust_ids))
    model._products(n_new_p, start=len(prod_ids))
    new_orders = model.order_lines(n_orders, max(10, n_orders // 10), DAY2_START, DAY2_END,
                                   sorted(model.customers), sorted(model.products))
    day2 = [model.attrs(ln) for ln in day1] + new_orders
    day2_bytes, n2 = render(day2, random.Random(seed * 31 + 2), 0.01)
    return day1_bytes, day2_bytes, Truth(day1, day2), (n1, n2)

