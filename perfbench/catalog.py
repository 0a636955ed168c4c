"""Seeded What Drops Now catalog: the data the stub API serves and the
ground truth the drops_daily checks compare the ETL's tables against.

Everything is a pure function of (seed, sizes, epoch), so the stub
server process and the benchmark process build the same catalog
independently. The catalog models what the reference ETL has to cope
with:

- brand search returns the brand plus noise hits whose names contain
  the search term (every hit is persisted, only the exact match is
  navigated);
- products of a brand are paginated;
- offers are fetched per product: some products have none, some 404,
  a share of offers reference a product the API never returns (FK
  orphans) and a share are cross-listed under another product;
- retailers are fetched per id and a share of ids 404;
- every offer gets a new price in each epoch (one epoch per refresh).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

BRAND_NAMES = (
    "nike", "adidas", "puma", "asics", "vans", "converse", "reebok", "fila",
)
MODELS = ("air", "zoom", "runner", "court", "trail", "classic", "boost", "low")
COLORS = ("red", "blue", "green", "black", "white", "grey")
CURRENCIES = ("USD", "GBP", "EUR")

ORPHAN_SHARE = 0.05  # offer.product_id is a product the API never returns
CROSS_SHARE = 0.05  # offer listed under another product than its own
NO_OFFERS_SHARE = 0.04  # product whose offers endpoint returns []
MISSING_OFFERS_SHARE = 0.03  # product whose offers endpoint 404s
MISSING_RETAILER_SHARE = 0.03  # retailer id whose endpoint 404s
ORPHAN_PRODUCT_BASE = 9_000_000


def _h(*parts) -> int:
    """Stable 64-bit hash of the parts (Python's hash() is salted)."""
    digest = hashlib.blake2b(
        "|".join(map(str, parts)).encode(), digest_size=8
    ).digest()
    return int.from_bytes(digest, "big")


@dataclass
class Catalog:
    seed: int
    brands: list[dict] = field(default_factory=list)  # every brand row
    search_terms: list[str] = field(default_factory=list)  # the ETL's input
    brand_id_of: dict[str, int] = field(default_factory=dict)  # term -> id
    products: dict[int, list[dict]] = field(default_factory=dict)  # brand id ->
    offers: dict[int, list[dict] | None] = field(default_factory=dict)  # product id -> (None = 404)
    retailers: dict[int, dict] = field(default_factory=dict)  # id -> row (404 when absent)

    # -- API payloads ------------------------------------------------------

    def search(self, term: str) -> list[dict]:
        t = term.lower()
        return [_brand_payload(b) for b in self.brands if t in b["name"].lower()]

    def product_page(self, brand_id: int) -> list[dict]:
        return [_product_payload(p) for p in self.products.get(brand_id, [])]

    def product_offers(self, product_id: int, epoch: int) -> list[dict] | None:
        offers = self.offers.get(product_id)
        if offers is None:
            return None
        return [_offer_payload(o, self.seed, epoch) for o in offers]

    def retailer(self, retailer_id: int) -> dict | None:
        r = self.retailers.get(retailer_id)
        return None if r is None else _retailer_payload(r)

    # -- ground truth --------------------------------------------------------

    def expected(self, epoch: int) -> dict[str, dict]:
        """The tables the ETL must hold after a full load at ``epoch``:
        {table: {id: row}} with prices as 2-decimal strings."""
        products = {
            p["id"]: p for bid in self.brand_id_of.values() for p in self.products[bid]
        }
        brand_of = {
            p["id"]: bid for bid in self.brand_id_of.values() for p in self.products[bid]
        }
        offers = {}
        for pid, bid in brand_of.items():
            for o in self.offers[pid] or []:
                # kept iff its product is one the same brand's fan-out
                # requested (semi-join on the requested ids) and exists
                # (FK tolerance drops orphans)
                if brand_of.get(o["product_id"]) == bid:
                    offers[o["id"]] = dict(o, **offer_prices(o, self.seed, epoch))
        retailers = {
            rid: self.retailers[rid]
            for rid in {o["retailer_id"] for o in offers.values()}
            if rid in self.retailers
        }
        brands = {}
        for term in self.search_terms:
            for b in self.brands:
                if term in b["name"].lower():
                    brands[b["id"]] = b
        return {
            "brands": brands,
            "products": products,
            "offers": offers,
            "retailers": retailers,
        }


def offer_prices(offer: dict, seed: int, epoch: int) -> dict:
    """The offer's prices in ``epoch``. USD sits across the R1
    segmentation thresholds (52k/56k), so every segment is populated."""
    cents = 4_000_000 + _h(seed, "price", offer["id"], epoch) % 3_000_000
    return {
        "price_usd": f"{cents / 100:.2f}",
        "price_gbp": f"{cents * 79 // 100 / 100:.2f}",
        "price_eur": f"{cents * 92 // 100 / 100:.2f}",
    }


def build_catalog(
    seed: int,
    n_brands: int,
    products_per_brand: int,
    offers_per_product: int,
    n_retailers: int,
) -> Catalog:
    if not 1 <= n_brands <= len(BRAND_NAMES):
        raise ValueError(f"n_brands must be in 1..{len(BRAND_NAMES)}")
    rng = random.Random(seed)
    cat = Catalog(seed=seed)
    next_brand_id = 1
    for i, term in enumerate(BRAND_NAMES[:n_brands]):
        cat.search_terms.append(term)
        main = {
            "id": next_brand_id,
            "name": term.upper(),
            "description": f"{term} footwear",
            "website": f"https://{term}.example",
        }
        noise = {
            "id": next_brand_id + 1,
            "name": f"{term.capitalize()} Kids",
            "description": f"{term} kids line",
            "website": f"https://kids.{term}.example",
        }
        cat.brands += [main, noise]
        cat.brand_id_of[term] = main["id"]
        next_brand_id += 2
        cat.products[main["id"]] = [
            {
                "id": (i + 1) * 10_000 + j,
                "name": f"{rng.choice(MODELS)} {rng.choice(COLORS)} {j}",
                "description": f"{term} drop {j}",
                "release_at": f"2026-{1 + j % 12:02d}-{1 + j % 28:02d}T10:00:00",
                "brand_names": main["name"],
            }
            for j in range(products_per_brand)
        ]
    all_pids = [p["id"] for ps in cat.products.values() for p in ps]
    for pid in all_pids:
        u = rng.random()
        if u < MISSING_OFFERS_SHARE:
            cat.offers[pid] = None
            continue
        if u < MISSING_OFFERS_SHARE + NO_OFFERS_SHARE:
            cat.offers[pid] = []
            continue
        listed = []
        for k in range(rng.randint(1, 2 * offers_per_product - 1)):
            v = rng.random()
            if v < ORPHAN_SHARE:
                own = ORPHAN_PRODUCT_BASE + rng.randrange(1_000_000)
            elif v < ORPHAN_SHARE + CROSS_SHARE:
                own = rng.choice(all_pids)
            else:
                own = pid
            listed.append(
                {
                    "id": f"o{pid}-{k}",
                    "product_id": own,
                    "retailer_id": rng.randint(1, n_retailers),
                    "original_currency": rng.choice(CURRENCIES),
                }
            )
        cat.offers[pid] = listed
    for rid in range(1, n_retailers + 1):
        if rng.random() < MISSING_RETAILER_SHARE:
            continue
        cat.retailers[rid] = {
            "id": rid,
            "name": f"retailer-{rid:04d}",
            "website": f"https://shop{rid}.example",
        }
    return cat


def _brand_payload(b: dict) -> dict:
    return {
        "id": str(b["id"]),
        "attributes": {k: b[k] for k in ("name", "description", "website")},
    }


def _product_payload(p: dict) -> dict:
    return {
        "id": str(p["id"]),
        "attributes": {
            k: p[k] for k in ("name", "description", "release_at", "brand_names")
        },
    }


def _offer_payload(o: dict, seed: int, epoch: int) -> dict:
    attrs = {k: o[k] for k in ("product_id", "retailer_id", "original_currency")}
    attrs.update(offer_prices(o, seed, epoch))
    return {"id": o["id"], "attributes": attrs}


def _retailer_payload(r: dict) -> dict:
    return {
        "id": str(r["id"]),
        "attributes": {"name": r["name"], "website": r["website"]},
    }
