"""Seeded raw-sales tree for the ELT workloads.

Writes the layout ``pipeline.run.run_pipeline`` reads::

    <root>/exchange-rate-data.csv
    <root>/sales/source=IN/format=csv/date=YYYY-MM-DD/order-YYYYMMDD*.csv
    <root>/sales/source=US/format=parquet/date=YYYY-MM-DD/order-YYYYMMDD*.snappy.parquet
    <root>/sales/source=FR/format=json/date=YYYY-MM-DD/order-YYYYMMDD*.json

with the quirks of the reference sample files (FIXTURES.md section 1):

- IN csv headers ``GST`` and ``Mobile``; quoted addresses holding newlines;
- US parquet with ``Order Date`` as a string;
- FR json as one top-level array, ``Price per Unit`` as a string, ``Tax``
  with float artifacts, ``null`` promo codes, non-ASCII customer names;
- mobile keys of 5 to 7 ``/``-segments;
- a second file for some dates, either with a later mtime (the faithful
  rank dedup keeps only its rows) or the same mtime (a tie: both files'
  rows are kept); every mtime is set with ``os.utime``;
- order dates inside and outside the 120-row descending forex range.

The same seed gives byte-identical files and identical mtimes.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

FIELDS = [
    "Order ID", "Customer Name", "Mobile Model", "Quantity", "Price per Unit",
    "Total Price", "Promotion Code", "Order Amount", "Tax", "Order Date",
    "Payment Status", "Shipping Status", "Payment Method", "Payment Provider",
    "Phone", "Delivery Address",
]
IN_HEADER = [{"Tax": "GST", "Phone": "Mobile"}.get(f, f) for f in FIELDS]

FOREX_LAST = dt.date(2020, 4, 30)  # forex rows cover 2020-01-01..2020-04-30
FOREX_DAYS = 120

# country -> (format, subdir, extension, unit price range, tax rate)
COUNTRIES = {
    "in": ("csv", "source=IN/format=csv", "csv", (5_000, 150_000), 0.18),
    "us": ("parquet", "source=US/format=parquet", "snappy.parquet", (100, 1_500), 0.08),
    "fr": ("json", "source=FR/format=json", "json", (100, 1_500), 0.2),
}

_FIRST = {
    "in": ["Aarav", "Vivaan", "Aditya", "Diya", "Ananya", "Ishaan", "Kabir", "Meera",
           "Riya", "Saanvi", "Arjun", "Kavya", "Rohan", "Priya", "Nikhil", "Tara"],
    "us": ["James", "Mary", "Robert", "Linda", "Michael", "Susan", "David", "Karen",
           "John", "Lisa", "Daniel", "Nancy", "Paul", "Emily", "Mark", "Laura"],
    "fr": ["Stéphane", "Hélène", "François", "Zoé", "Amélie", "Jérôme", "Céline",
           "Noël", "Léa", "Gaël", "Inès", "Loïc", "Chloé", "Renée", "Éric", "Maëlle"],
}
_LAST = {
    "in": ["Sharma", "Verma", "Iyer", "Nair", "Reddy", "Gupta", "Patel", "Das",
           "Rao", "Singh", "Menon", "Joshi"],
    "us": ["Smith", "Johnson", "Brown", "Garcia", "Miller", "Davis", "Wilson",
           "Moore", "Taylor", "Clark", "Lewis", "Young"],
    "fr": ["Roy", "Lefèvre", "Gauthier", "Bélanger", "Côté", "Dubois", "Lévesque",
           "Moreau", "Girard", "Béland", "Hébert", "Pâquet"],
}
_STREETS = ["MG Road", "Main St", "Rue de Rivoli", "Park Ave", "Lake View",
            "Station Rd", "Elm St", "Boulevard Haussmann"]
_CITIES = ["Pune", "Austin", "Lyon", "Chennai", "Denver", "Nantes", "Delhi", "Boston"]
_BRANDS = {
    "Apple": ["iPhone 12", "iPhone 13", "iPhone SE"],
    "Samsung": ["Galaxy S21", "Galaxy A52", "Galaxy M31"],
    "OnePlus": ["9 Pro", "Nord 2"],
    "Xiaomi": ["Redmi Note 10", "Mi 11X"],
    "Google": ["Pixel 6", "Pixel 5a"],
}
_COLORS = ["Black", "White", "Blue", "Green", "Red", "Silver"]
_RAM = ["4GB", "6GB", "8GB", "12GB"]
_STORAGE = ["64GB", "128GB", "256GB"]
_EXTRA = ["5G", "Dual SIM", "Refurbished", "Renewed"]
PROMOS = [None, "BIRTHDAYGIFT", "NEWYEAR15", "REFERRAL10"]
_METHODS = {
    "Net Banking": ["HDBC", "ICICI", "SBI"],
    "Credit Card": ["Visa", "Mastercard", "Amex"],
    "UPI": ["BHIM UPI", "Google Pay", "PhonePe"],
    "Digital Wallets": ["Paytm", "Amazon Pay", "PayPal"],
    "Debit Card": ["Visa", "Maestro", "RuPay"],
}
_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


@dataclass
class RawFile:
    cc: str
    path: str  # absolute path on disk
    order_dt: dt.date
    mtime: int
    rows: int
    kind: str  # main | late | tie | redelivered


@dataclass
class RawTree:
    """A growing raw tree: each ``deliver`` writes one order date's files."""

    root: str
    seed: int
    rows_per_file: int
    n_dates: int
    files: list[RawFile] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._order_seq = 1_685_000_000
        # the dates straddle the end of the forex range: roughly half
        # resolve a rate, the rest hit the full-outer join's null side.
        self.first_date = FOREX_LAST - dt.timedelta(days=self.n_dates // 2 - 1)
        self._customers = {cc: self._customer_pool(cc) for cc in COUNTRIES}
        self._models = self._model_pool()
        os.makedirs(f"{self.root}/sales", exist_ok=True)
        write_forex(f"{self.root}/exchange-rate-data.csv", self._rng)

    @property
    def raw_rows(self) -> int:
        return sum(f.rows for f in self.files)

    def date(self, i: int) -> dt.date:
        return self.first_date + dt.timedelta(days=i)

    def deliver(self, i: int) -> list[RawFile]:
        """Write every country's files for order date number ``i``. Every
        third date gets a second, later file; date 2 gets a second file
        with the SAME mtime (rows that tie under the rank dedup)."""
        d = self.date(i)
        base = int(dt.datetime(d.year, d.month, d.day, 23, 0, tzinfo=dt.timezone.utc).timestamp())
        out = []
        for cc in COUNTRIES:
            out.append(self._write(cc, d, "", self.rows_per_file, base))
            if i % 3 == 1:
                out.append(self._write(cc, d, "-late", self.rows_per_file // 2, base + 3_600))
            elif i == 2:
                out.append(self._write(cc, d, "-tie", self.rows_per_file // 3, base))
        self.files.extend(out)
        return out

    def redeliver(self, i: int) -> list[RawFile]:
        """Copy the main files of already-delivered date ``i`` to a new
        path, two hours newer: the same orders arrive a second time."""
        out = []
        for f in [f for f in self.files if f.order_dt == self.date(i) and f.kind == "main"]:
            name = os.path.basename(f.path)
            stem, ext = name.split(".", 1)
            dst = os.path.join(os.path.dirname(f.path), f"{stem}-redelivered.{ext}")
            with open(f.path, "rb") as src, open(dst, "wb") as fh:
                fh.write(src.read())
            mtime = f.mtime + 7_200
            os.utime(dst, (mtime, mtime))
            out.append(RawFile(f.cc, dst, f.order_dt, mtime, f.rows, "redelivered"))
        self.files.extend(out)
        return out

    # -- generation -------------------------------------------------------

    def _customer_pool(self, cc: str) -> list[tuple[str, str, str]]:
        """(name, contact, address) with names unique per country, so the
        customer-dim join never fans out and expected fact counts do not
        depend on batch boundaries."""
        r = self._rng
        names = [f"{a} {b}" for a in _FIRST[cc] for b in _LAST[cc]]
        names += [f"{a}-{b} {c}" for a, b, c in zip(_FIRST[cc], reversed(_FIRST[cc]), _LAST[cc] * 2)]
        r.shuffle(names)
        pool = []
        for name in names:
            contact = "".join(r.choice("0123456789") for _ in range(10))
            addr = (f"{r.randint(1, 999)} {r.choice(_STREETS)}\n"
                    f"{r.choice(_CITIES)} {r.randint(10000, 99999)}")
            pool.append((name, contact, addr))
        return pool

    def _model_pool(self) -> list[str]:
        r = self._rng
        keys = set()
        for brand, models in _BRANDS.items():
            for model in models:
                for color in _COLORS[:3]:
                    segs = [brand, model, color, r.choice(_RAM), r.choice(_STORAGE)]
                    keys.add("/".join(segs))
                    keys.add("/".join(segs + [_EXTRA[0]]))
        keys.add("Apple/iPhone 12/Black/4GB/128GB/5G/Dual SIM")
        keys.add("Samsung/Galaxy S21/Red/8GB/256GB/Refurbished/Renewed")
        return sorted(keys)

    def _rows(self, cc: str, d: dt.date, n: int) -> list[dict]:
        r = self._rng
        lo, hi = COUNTRIES[cc][3]
        tax_rate = COUNTRIES[cc][4]
        rows = []
        for _ in range(n):
            self._order_seq += 1
            name, contact, addr = r.choice(self._customers[cc])
            qty = r.randint(1, 5)
            unit = r.randint(lo, hi)
            total = qty * unit
            promo = r.choice(PROMOS)
            amount = round(total * (0.9 if promo else 1.0), 2)
            method = r.choice(list(_METHODS))
            rows.append({
                "Order ID": "".join(r.choice(_ALNUM) for _ in range(10)) + str(self._order_seq),
                "Customer Name": name,
                "Mobile Model": r.choice(self._models),
                "Quantity": qty,
                "Price per Unit": unit,
                "Total Price": total,
                "Promotion Code": promo,
                "Order Amount": amount,
                "Tax": amount * tax_rate,  # float artifacts kept (FR json)
                "Order Date": d.isoformat(),
                "Payment Status": r.choice(["Paid", "Pending"]),
                "Shipping Status": r.choice(["Delivered", "Transit", "Returned"]),
                "Payment Method": method,
                "Payment Provider": r.choice(_METHODS[method]),
                "Phone": contact,
                "Delivery Address": addr,
            })
        return rows

    def _write(self, cc: str, d: dt.date, suffix: str, n: int, mtime: int) -> RawFile:
        fmt, subdir, ext = COUNTRIES[cc][:3]
        folder = f"{self.root}/sales/{subdir}/date={d.isoformat()}"
        os.makedirs(folder, exist_ok=True)
        path = f"{folder}/order-{d.strftime('%Y%m%d')}{suffix}.{ext}"
        rows = self._rows(cc, d, n)
        if fmt == "csv":
            with open(path, "w", newline="", encoding="utf-8") as fh:
                w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
                w.writerow(IN_HEADER)
                for row in rows:
                    vals = [row[f] for f in FIELDS]
                    vals[6] = vals[6] or ""  # empty promo field
                    vals[8] = f"{row['Tax']:.2f}"
                    vals[7] = f"{row['Order Amount']:.2f}"
                    w.writerow(vals)
        elif fmt == "parquet":
            cols = {f: [row[f] for row in rows] for f in FIELDS}
            types = {"Quantity": pa.int64(), "Price per Unit": pa.int64(),
                     "Total Price": pa.int64(), "Order Amount": pa.float64(),
                     "Tax": pa.float64()}
            table = pa.table({f: pa.array(v, type=types.get(f, pa.string())) for f, v in cols.items()})
            pq.write_table(table, path, compression="snappy")
        else:
            for row in rows:
                row["Price per Unit"] = str(row["Price per Unit"])
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(rows, fh, ensure_ascii=False, indent=1)
        os.utime(path, (mtime, mtime))
        return RawFile(cc, path, d, mtime, n, suffix.lstrip("-") or "main")


def write_forex(path: str, rng: random.Random) -> None:
    """120 daily rows, newest first, 2020-04-30 back to 2020-01-01."""
    rates = {"usd2eu": 0.91, "usd2can": 1.35, "usd2uk": 0.81, "usd2inr": 82.2, "usd2jp": 133.2}
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["date", "usd2usd", *rates])
        for k in range(FOREX_DAYS):
            day = FOREX_LAST - dt.timedelta(days=k)
            vals = []
            for c, v in rates.items():
                rates[c] = v * (1 + rng.uniform(-0.004, 0.004))
                vals.append(f"{rates[c]:.4f}")
            w.writerow([day.isoformat(), "1", *vals])
