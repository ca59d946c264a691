"""Seeded company-record generator with planted true matches.

Shape follows the reference's performance-test generator: a name
``"{Base} {Suffix} {City} Branch {NNNN}"``, plus a street address and a
low-cardinality country. The right side holds canonical entities; a
share (:data:`MATCH_RATE`) of left keys are typo'd copies of right entities
(insert / delete / replace edits, sometimes a case change), the rest are
fresh entities. ``dup`` repeats every left key on that many rows, so a
workload can have many more rows than distinct keys.

Everything is a pure function of the seed: same seed, same rows, same
truth. Pure Python, no Spark, so it is unit-testable on its own.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import List, Tuple

BASES = (
    "Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Wonka",
    "Tyrell", "Cyberdyne", "Soylent", "Hooli", "Vandelay", "Pied Piper",
    "Massive Dynamic", "Oscorp", "Gringotts", "Monarch", "Aperture",
    "Black Mesa", "Blue Sun", "Nakatomi", "Virtucon", "Gekko", "Sterling",
    "Prestige", "Dunder", "Bluth", "Krusty", "Ollivander", "Zorin",
    "Northwind", "Contoso", "Fabrikam", "Tailspin", "Litware", "Adatum",
    "Woodgrove", "Proseware", "Lucerne", "Margie", "Alpine", "Coho",
    "Fourth Coffee", "Humongous", "Wingtip", "Trey", "Southridge",
    "Graphic Design", "Consolidated", "Fictional", "Summit", "Pinnacle",
    "Evergreen", "Riverside", "Lakeshore", "Redwood", "Silverline",
    "Ironclad", "Brightwave", "Keystone", "Harborview", "Clearwater",
    "Stonebridge", "Oakmont", "Bluestone", "Northstar", "Westfield",
    "Eastgate", "Suncrest", "Greenleaf", "Copperfield", "Whitehall",
    "Blackrock", "Goldcrest", "Ravenwood", "Foxglove", "Maplewood",
    "Cedarline", "Highpoint", "Deepwater", "Falconer", "Kingsbury",
    "Lionsgate", "Meridian", "Novalink", "Orchard", "Paragon", "Quantum",
    "Radiant", "Sapphire", "Trident", "Unity", "Vanguard", "Windmill",
    "Yellowstone", "Zenith", "Atlas", "Beacon",
)
SUFFIXES = (
    "Corp", "Inc", "LLC", "Group", "Holdings", "Partners", "Systems",
    "Labs", "Industries", "Trading", "Logistics", "Ventures",
)
CITIES = (
    "Denver", "Austin", "Boston", "Seattle", "Portland", "Chicago",
    "Houston", "Phoenix", "Dallas", "Atlanta", "Miami", "Detroit",
    "Memphis", "Nashville", "Omaha", "Tulsa", "Fresno", "Oakland",
    "Raleigh", "Tampa", "Toronto", "Calgary", "Leeds", "Bristol",
    "Lyon", "Munich", "Hamburg", "Rotterdam", "Antwerp", "Zurich",
    "Vienna", "Prague", "Krakow", "Porto", "Seville", "Turin", "Osaka",
    "Busan", "Perth", "Auckland", "Boise", "Reno", "Spokane", "Tucson",
    "Albany", "Buffalo", "Dayton", "Akron", "Toledo", "Wichita", "Madison",
    "Lincoln", "Durham", "Savannah", "Mobile", "Jackson", "Helena",
    "Billings", "Fargo", "Duluth", "Quebec", "Halifax", "Regina", "Ottawa",
    "Glasgow", "Cardiff", "Belfast", "Dublin", "Cork", "Bergen", "Malmo",
    "Aarhus", "Tampere", "Graz", "Basel", "Geneva", "Lille", "Nantes",
)
STREETS = (
    "Main", "Oak", "Pine", "Maple", "Cedar", "Elm", "Washington", "Lake",
    "Hill", "Park", "River", "Sunset", "Highland", "Church", "Mill",
    "Spring", "Forest", "Meadow", "Ridge", "Valley", "Harbor", "Bridge",
    "Market", "King", "Queen", "Station", "College", "Union",
)
STREET_TYPES = ("St", "Ave", "Rd", "Blvd", "Lane", "Way", "Drive", "Court")
COUNTRIES = (
    "United States", "Canada", "United Kingdom", "France", "Germany",
    "Netherlands", "Belgium", "Switzerland", "Austria", "Spain",
    "Portugal", "Italy", "Ireland", "Denmark", "Norway", "Sweden",
    "Finland", "Iceland", "Poland", "Czechia", "Slovakia", "Hungary",
    "Romania", "Bulgaria", "Greece", "Turkey", "Croatia", "Slovenia",
    "Serbia", "Estonia", "Latvia", "Lithuania", "Mexico", "Brazil",
    "Argentina", "Chile", "Peru", "Colombia", "Japan", "South Korea",
    "Singapore", "Malaysia", "Thailand", "Vietnam", "India", "Australia",
    "New Zealand", "South Africa",
)
# typo alphabet: what a keyboard slip plausibly inserts
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
# edits applied to a planted name: mostly light, sometimes heavy enough
# that the copy falls below a typical threshold (so recall eligibility
# is decided by the true similarity, not assumed)
_NAME_EDITS = (1, 1, 1, 2, 2, 2, 3, 3, 4, 6, 9, 12)
_ADDRESS_EDITS = (0, 0, 1, 1, 2, 3)
# share of left keys that are typo'd copies of a right entity
MATCH_RATE = 0.7
# right ids are RIGHT_ID_BASE + row index, disjoint from left ids
RIGHT_ID_BASE = 1_000_000


@dataclass
class Table:
    """One generated side: parallel column lists, ``id`` unique."""

    ids: List[int] = field(default_factory=list)
    name: List[str] = field(default_factory=list)
    address: List[str] = field(default_factory=list)
    country: List[str] = field(default_factory=list)

    def rows(self) -> List[Tuple[int, str, str, str]]:
        return list(zip(self.ids, self.name, self.address, self.country))


@dataclass
class Inputs:
    left: Table
    right: Table
    # planted (left id, right id) pairs: the left row is a typo'd copy
    # of the right entity
    truth: List[Tuple[int, int]]


def typo(rng: random.Random, s: str, n_edits: int) -> str:
    """Apply ``n_edits`` random insert / delete / replace edits."""
    chars = list(s)
    for _ in range(n_edits):
        op = rng.randrange(3)
        if op == 0 or len(chars) < 2:
            chars.insert(rng.randrange(len(chars) + 1), rng.choice(_ALPHABET))
        elif op == 1:
            del chars[rng.randrange(len(chars))]
        else:
            chars[rng.randrange(len(chars))] = rng.choice(_ALPHABET)
    return "".join(chars)


def _entity(
    rng: random.Random, address_pool: int, n_countries: int
) -> Tuple[str, str, str]:
    name = (
        f"{rng.choice(BASES)} {rng.choice(SUFFIXES)} {rng.choice(CITIES)}"
        f" Branch {rng.randrange(10000):04d}"
    )
    # a bounded pool of addresses, so the address column is less
    # unique than the name column (planner ordering stays seed-stable)
    a = rng.randrange(address_pool)
    address = (
        f"{100 + a % 9900} {STREETS[a % len(STREETS)]}"
        f" {STREET_TYPES[(a // len(STREETS)) % len(STREET_TYPES)]}"
    )
    return name, address, COUNTRIES[rng.randrange(n_countries)]


def generate(
    seed: int,
    n_left_keys: int,
    n_right: int,
    dup: int = 1,
    n_countries: int = 12,
) -> Inputs:
    """Left: ``n_left_keys`` distinct names on ``n_left_keys * dup`` rows.
    Right: ``n_right`` distinct canonical entities. Countries come from
    the first ``n_countries`` of :data:`COUNTRIES`."""
    if not 1 <= n_countries <= len(COUNTRIES):
        raise ValueError(f"n_countries must be 1..{len(COUNTRIES)}")
    rng = random.Random(seed)
    address_pool = max(n_right // 2, 1)
    seen = set()

    def fresh() -> Tuple[str, str, str]:
        while True:
            ent = _entity(rng, address_pool, n_countries)
            if ent[0] not in seen:
                seen.add(ent[0])
                return ent

    right = Table()
    for i in range(n_right):
        name, address, country = fresh()
        right.ids.append(RIGHT_ID_BASE + i)
        right.name.append(name)
        right.address.append(address)
        right.country.append(country)

    n_planted = min(round(MATCH_RATE * n_left_keys), n_right)
    sources = rng.sample(range(n_right), n_planted)
    keys = []  # (name, address, country, planted right id or None)
    for src in sources:
        name = typo(rng, right.name[src], rng.choice(_NAME_EDITS))
        if rng.random() < 0.1:
            name = name.upper()
        address = typo(rng, right.address[src], rng.choice(_ADDRESS_EDITS))
        keys.append((name, address, right.country[src], right.ids[src]))
    for _ in range(n_left_keys - n_planted):
        keys.append((*fresh(), None))
    rng.shuffle(keys)

    left = Table()
    truth = []
    next_id = 0
    for name, address, country, src_id in keys:
        for _ in range(dup):
            left.ids.append(next_id)
            left.name.append(name)
            left.address.append(address)
            left.country.append(country)
            if src_id is not None:
                truth.append((next_id, src_id))
            next_id += 1
    return Inputs(left=left, right=right, truth=truth)
