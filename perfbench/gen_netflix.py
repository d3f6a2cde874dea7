"""Seeded Netflix-catalog CSV generator with its own expected answers.

Writes a ``netflix_titles.csv``-shaped file (the 12 ``SHOWS_RAW``
columns) carrying the FIXTURES.md section-1 edge cases: quoted commas
and quotes in titles, embedded newlines in descriptions, NULL crew
(including shows with neither cast nor director), duplicated names
within one row, single-token names, leading-space and NULL dates,
untrimmed comma-space genres, and a fixed person with recurring
co-stars.

``expected()`` derives the star-table row counts and the answers of the
ten reference analytics (``cli.run_analytics``) from the generated rows
alone, with the engine's documented semantics written out in Python:
split on ``,`` and trim crew names, keep listings untrimmed, first-space
name split + ``initcap``, gender by first name (unmatched -> unknown),
self-join YoY growth that skips gap years, NULLS LAST top-1 with name
tie-breaks.
"""

from __future__ import annotations

import csv
import random
from collections import Counter
from datetime import datetime

PERSON = "Woody Harrelson"

# first name -> gender label the engine's lookup assigns it
FIRST_NAMES = {
    "Anna": "female", "Maria": "female", "Emma": "female", "Laura": "female",
    "Rebecca": "female", "Phoebe": "female", "Emilia": "female", "Deborah": "female",
    "James": "male", "John": "male", "Robert": "male", "Sam": "male",
    "David": "male", "Michael": "male", "Paul": "male",
    "Kim": "unknown", "Alex": "unknown", "Taylor": "unknown", "Jordan": "unknown",
    "Zorblax": "unknown",
}
SINGLE_NAMES = ["Cher", "Zendaya"]  # both female in the lookup
GENDER = {k.lower(): v for k, v in FIRST_NAMES.items()} | {
    "cher": "female", "zendaya": "female", "woody": "male",
}
SYLLABLES = ["ka", "ro", "mi", "ten", "sa", "vo", "lin", "da", "ber", "ny", "go", "he"]
COSTARS = {"Emma Stone": 4, "Zorblax Quill": 3, "Paul Rudd": 5}  # male: filtered out
GENRES = ["Dramas", "Comedies", "Documentaries", "International TV Shows",
          "Action & Adventure", "Thrillers", "Kids' TV", "Stand-Up Comedy"]
COUNTRIES = ["United States", "India", "United Kingdom", "Japan", "France"]
RATINGS = ["TV-MA", "TV-14", "PG-13", "R", "TV-PG", "PG"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
WORDS = "a family secret, the city, love and loss, one night, a new life".split()
HEADER = ["show_id", "type", "title", "director", "cast", "country", "date_added",
          "release_year", "rating", "duration", "listed_in", "description"]


def _people(rng: random.Random, n: int) -> list[str]:
    firsts = list(FIRST_NAMES)
    out = []
    for _ in range(n):
        last = "".join(rng.choice(SYLLABLES) for _ in range(3)).capitalize()
        if rng.random() < 0.05:
            last = f"{rng.choice(firsts)} {last}"  # multi-word surname
        out.append(f"{rng.choice(firsts)} {last}")
    return out + SINGLE_NAMES


def generate(path: str, n_rows: int, seed: int) -> list[dict]:
    """Write the CSV to ``path``; return the rows as written."""
    rng = random.Random(seed)
    pool = _people(rng, max(50, n_rows // 3))
    featured = set(rng.sample(range(n_rows), 12))
    costar_rows = {
        name: set(rng.sample(sorted(featured), k)) for name, k in COSTARS.items()
    }
    rows = []
    for i in range(n_rows):
        is_tv = rng.random() < 0.3
        title = f"Title {i}"
        if i % 7 == 0:
            title = f'Love, Death & "Robots" {i}'
        director = None
        if rng.random() >= 0.3:
            director = ", ".join(rng.sample(pool, rng.choice([1, 1, 1, 2])))
        cast = None
        if rng.random() >= 0.09:
            names = rng.sample(pool, rng.randint(1, 6))
            if rng.random() < 0.01:
                names.append(names[0])  # duplicated name within one row
            cast = ", ".join(names)
        if i in featured:
            extra = [PERSON] + [c for c, rows_ in costar_rows.items() if i in rows_]
            cast = ", ".join(extra + ([cast] if cast else []))
        release_year = rng.randint(1925, 2021)
        date_added = None
        if rng.random() >= 0.01:
            year = min(2021, release_year + rng.choice([0, 0, 1, 2, 5, 30]))
            date_added = f"{rng.choice(MONTHS)} {rng.randint(1, 28)}, {year}"
            if rng.random() < 0.01:
                date_added = " " + date_added
        description = " ".join(rng.choice(WORDS) for _ in range(rng.randint(5, 15)))
        if rng.random() < 0.02:
            description = description.replace(" ", "\n", 1)
        rows.append({
            "show_id": f"s{i + 1}",
            "type": "TV Show" if is_tv else "Movie",
            "title": title,
            "director": director,
            "cast": cast,
            "country": ", ".join(rng.sample(COUNTRIES, rng.randint(1, 2))),
            "date_added": date_added,
            "release_year": release_year,
            "rating": None if rng.random() < 0.005 else rng.choice(RATINGS),
            "duration": f"{rng.randint(1, 9)} Seasons" if is_tv else f"{rng.randint(60, 180)} min",
            "listed_in": ", ".join(rng.sample(GENRES, rng.randint(1, 3))),
            "description": description,
        })
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=HEADER, quoting=csv.QUOTE_MINIMAL)
        w.writeheader()
        w.writerows(rows)
    return rows


def _crew(row: dict) -> list[tuple[str, str]]:
    out = []
    for ptype in ("cast", "director"):
        if row[ptype] is not None:
            out += [(n.strip(" "), ptype) for n in row[ptype].split(",")]
    return out


def _first_name(name: str) -> str:
    tok = name.split(" ", 1)[0]
    return tok[:1].upper() + tok[1:].lower()


def _gender(name: str) -> str:
    return GENDER.get(_first_name(name).lower(), "unknown")


def _top1(counts: dict, key) -> list[tuple]:
    if not counts:
        return []
    best = min(counts.items(), key=key)
    return [best]


def expected(rows: list[dict]) -> dict[str, list[tuple]]:
    """Rows each read-back operation must return (any order)."""
    crew = [(r["show_id"], n, t) for r in rows for n, t in _crew(r)]
    names = {n for _, n, _ in crew}
    out: dict[str, list[tuple]] = {
        "count_shows": [(len(rows),)],
        "count_personnel": [(len(names),)],
        "count_movie_crew": [(len(crew),)],
        "count_listings": [(sum(len(r["listed_in"].split(",")) for r in rows),)],
    }
    with_crew = {s for s, _, _ in crew}
    out["shows_without_crew"] = [(sum(r["show_id"] not in with_crew for r in rows),)]
    out["shows_without_listings"] = [(0,)]

    for g in ("female", "male", "unknown"):
        c = Counter(_first_name(n) for _, n, t in crew if t == "cast" and _gender(n) == g)
        out[f"most_common_first_name_{g}"] = _top1(c, lambda kv: (-kv[1], kv[0]))

    added = {}
    for r in rows:
        d = r["date_added"]
        added[r["show_id"]] = datetime.strptime(d.strip(" "), "%B %d, %Y") if d else None
    gaps = [
        (r["title"], added[r["show_id"]].year - r["release_year"])
        for r in rows if added[r["show_id"]] is not None
    ]
    out["longest_addition_gap"] = [min(gaps, key=lambda tg: (-tg[1], tg[0]))]
    months = Counter(MONTHS[d.month - 1] for d in added.values() if d is not None)
    out["busiest_month"] = _top1(months, lambda kv: (-kv[1], kv[0]))

    tv = Counter(r["release_year"] for r in rows if r["type"] == "TV Show")
    growth = {y: (n - tv[y - 1]) / tv[y - 1] * 100.0 for y, n in tv.items() if tv.get(y - 1)}
    out["best_tv_show_growth_year"] = _top1(growth, lambda kv: (-kv[1], kv[0]))

    cohort = {s for s, n, _ in crew if n == PERSON}
    out["shows_featuring_count"] = [(len(cohort),)]
    costars = Counter(
        n for s, n, _ in crew
        if s in cohort and n != PERSON and _gender(n) in ("female", "unknown")
    )
    out["frequent_costars"] = [(n, k) for n, k in costars.items() if k >= 2]
    return out

