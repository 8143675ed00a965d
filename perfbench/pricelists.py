"""Seeded messy price-list CSVs and the warehouse state they must produce.

The rows keep the raw-products shape of FIXTURES.md section 1: Spanish
headers with trailing empty columns, descriptions that embed a measure,
a package count, an IVA tag and footnote glyphs, day-first dates in four
formats (``March 15, 2024`` quoted, since it contains a comma), provider
names with camel case, specials and trailing spaces, and prices with
dot, comma and dollar noise, and an IVA column that is
sometimes empty.

Every price renders from an integer ``v`` whose digits survive the
engine's separator stripping unchanged, so ``CleanPrice == v`` exactly.
Every product has one fixed raw description and one fixed provider, and
a product appears at most once per file, so the expected warehouse after
any sequence of files follows from the generator alone:

* ``product``: one row per distinct raw description ingested;
* ``provider_product``: one row per product (its one provider);
* ``provider``: one row per clean provider name used;
* ``Price`` of a pair: the price in the last file that carried it.
"""

from __future__ import annotations

import hashlib
import random

HEADER = "Producto,Fecha 1,Provedor,Precio,IVA,,,,"

# (raw spellings, the clean name the exact-mode transform gives them;
# trailing spaces survive cleaning, so they name a provider of their own)
PROVIDERS = [
    (["Canasta", "Canasta+"], "Canasta"),
    (["MiProveedor", "Mi@Proveedor"], "Mi Proveedor"),
    (["ProveedorABC@123"], "Proveedor Abc123"),
    (["ProvedorA S.A.S", "ProvedorA SAS"], "Provedor A Sas"),
    (["Serrano "], "Serrano "),
    (["Big", "Big*"], "Big"),
    (["DistribuidoraElSol", "Distribuidora El Sol"], "Distribuidora El Sol"),
    (["Lacteos#Andinos"], "Lacteos Andinos"),
    (["Central Mayorista ", "CentralMayorista "], "Central Mayorista "),
    (["Frutas&Verduras"], "Frutas Verduras"),
    (["La Granja!"], "La Granja"),
    (["Importadora 2000", "Importadora2000"], "Importadora 2000"),
]

_NAMES = ["Arroz", "Aceite", "Agua", "Azucar", "Cafe", "Harina", "Leche", "Papa",
          "Rosca", "Galleta", "Atun", "Frijol", "Lenteja", "Sal", "Jabon", "Avena"]
_BRANDS = ["Premium", "Capullo", "Cielo", "Diana", "Kitty", "Moana", "Roa", "Zenu",
           "Colanta", "Alpina", "Noel", "Quaker"]
_UNITS = ["g", "kg", "ml", "l", "gr", "lt", "un"]
_GLYPHS = ["", "", "", " *", "*", " **", " ¹"]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]


def description(i: int) -> str:
    """The one raw description of product ``i`` (unique per ``i``)."""
    r = random.Random(i * 7919 + 17)
    measure = r.choice(["500", "1.5", "250", "625", "1", "2", "350", "125"])
    unit = r.choice(_UNITS)
    pack = r.choice([f" x {r.randint(2, 24)}", f" x{r.randint(2, 24)}",
                     f" 1X{r.randint(6, 36)}", ""])
    iva = r.choice(["(G13)", "(G1)", "(g1 )", "(G19)", "(G5)", ""])
    name = f"{r.choice(_NAMES)} {r.choice(_BRANDS)}"
    if r.random() < 0.3:
        name = name.upper()
    return f"{name} {measure}{unit}{pack} {iva} Ref{i:06d}{r.choice(_GLYPHS)}".replace("  ", " ")


def provider_of(i: int) -> int:
    return (i * 2654435761 >> 7) % len(PROVIDERS)


def _csv_field(s: str) -> str:
    return f'"{s}"' if ("," in s or '"' in s) else s


def _date(r: random.Random) -> str:
    y, m, d = r.choice([2023, 2024, 2025]), r.randint(1, 12), r.randint(1, 28)
    fmt = r.randrange(4)
    if fmt == 0:
        return f"{d:02d}/{m:02d}/{y}"
    if fmt == 1:
        return f"{d}/{m:02d}/{y}"
    if fmt == 2:
        return f"{y}-{m:02d}-{d:02d}"
    return f'"{_MONTHS[m - 1]} {d}, {y}"'


def _price(r: random.Random, v: int) -> str:
    """Render ``v`` with separator noise that strips back to ``v``."""
    s = str(v)
    fmt = r.randrange(5)
    if fmt == 0 or len(s) < 4:
        return s
    thousands = s[:-3] + "." + s[-3:]
    if fmt == 1:
        return thousands
    if fmt == 2:
        return _csv_field("$" + s[:-3] + "," + s[-3:])
    if fmt == 3:
        return "$ " + thousands
    return _csv_field(s[:-2] + "," + s[-2:])


def render(rows: list[tuple[int, int]], seed: int) -> str:
    """CSV text for ``rows`` of (product id, integer price)."""
    r = random.Random(seed)
    out = [HEADER]
    for i, v in rows:
        raw = r.choice(PROVIDERS[provider_of(i)][0])
        out.append(",".join([_csv_field(description(i)), _date(r), _csv_field(raw),
                             _price(r, v), r.choice(["13", "19", "5", "0", ""])]) + ",,,,")
    return "\n".join(out) + "\n"


class PriceListSequence:
    """A fixed sequence of price-list files and the state it leaves.

    ``preload`` products ``0..preload-1`` seed the warehouse; each later
    file re-prices ``rows - new_per_file`` existing products and adds
    ``new_per_file`` never-seen ones.  Prices and product choice come
    from ``seed`` only."""

    def __init__(self, seed: int, preload: int = 0):
        self.seed = seed
        self.rng = random.Random(seed)
        self.next_id = 0
        self.prices: dict[int, int] = {}
        self.files = 0
        self.bytes = 0
        if preload:
            self.preload_rows = self._take(list(range(preload)))
            self.next_id = preload

    def _take(self, ids: list[int]) -> list[tuple[int, int]]:
        rows = [(i, self.rng.randint(50, 999_999)) for i in ids]
        for i, v in rows:
            self.prices[i] = v
        return rows

    def text(self, rows: list[tuple[int, int]]) -> str:
        self.files += 1
        t = render(rows, self.seed * 1_000_003 + self.files)
        self.bytes += len(t.encode())
        return t

    def next_file(self, rows: int, new_per_file: int) -> tuple[str, int]:
        """(CSV text, row count) of the next re-pricing file."""
        old = self.rng.sample(range(self.next_id), rows - new_per_file)
        new = list(range(self.next_id, self.next_id + new_per_file))
        self.next_id += new_per_file
        ids = old + new
        self.rng.shuffle(ids)
        return self.text(self._take(ids)), len(ids)

    def expected(self, sample: int = 64) -> dict:
        """Counts and a Price digest over a seeded sample of products."""
        ids = sorted(random.Random(self.seed ^ 0x5EED).sample(sorted(self.prices),
                                                            min(sample, len(self.prices))))
        return {
            "product": len(self.prices),
            "provider_product": len(self.prices),
            "provider": len({provider_of(i) for i in self.prices}),
            "sample": [(description(i), PROVIDERS[provider_of(i)][1]) for i in ids],
            "price_digest": price_digest(
                (description(i), PROVIDERS[provider_of(i)][1], self.prices[i]) for i in ids
            ),
        }


def price_digest(rows) -> str:
    """Order-insensitive digest of (description, clean provider, price)."""
    lines = sorted(f"{d}|{p}|{int(v)}" for d, p, v in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
