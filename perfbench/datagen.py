"""Seeded input generator for the flatten workload.

``write_flatten_corpus`` writes a JSON corpus in the shape the flatten
benchmarks use (a nested object plus two arrays of objects) and returns
the per-table row counts the flattened output must have, recorded while
the objects are generated; ``FLATTEN_HEADERS`` gives each table's header.
No engine code is involved.
"""

from __future__ import annotations

import random

RATINGS = [("E", "Everyone"), ("T", "Teen"), ("M", "Mature")]
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
ISO = ["US", "JP", "DE"]

#: Header columns of each flattened table, in output order, as flatterer
#: names them: ``_link`` first, then ``_link_<parent>`` for child tables,
#: then the scalar fields with nested object keys joined by ``_``.
FLATTEN_HEADERS = {
    "main": ["_link", "id", "title", "released", "rating_code",
             "rating_name"],
    "developer": ["_link", "_link_main", "name", "country_iso"],
    "metrics": ["_link", "_link_main", "k", "v"],
}


def write_flatten_corpus(path: str, n: int, seed: int,
                         as_array: bool = False) -> dict[str, int]:
    """Write ``n`` objects as NDJSON (or one JSON array document) and
    return the expected row count of each flattened table.  Objects are
    formatted from a template (every generated string is plain ASCII) and
    written as they are made, so staging a large corpus stays cheap in
    time and memory next to the flatten it feeds."""
    rng = random.Random(seed)
    counts = {"main": n, "developer": 0, "metrics": 0}
    sep = ",\n" if as_array else "\n"
    with open(path, "w") as f:
        if as_array:
            f.write("[\n")
        for i in range(n):
            devs = ", ".join(
                f'{{"name": "{rng.choice(WORDS)}", "country": '
                f'{{"iso": "{rng.choice(ISO)}"}}}}'
                for _ in range(rng.randint(1, 3))
            )
            code, name = rng.choice(RATINGS)
            if i:
                f.write(sep)
            f.write(
                f'{{"id": {i}, "title": "{" ".join(rng.choices(WORDS, k=3))}", '
                f'"released": "{rng.randint(1990, 2024)}-0{rng.randint(1, 9)}'
                f'-1{rng.randint(0, 9)}", '
                f'"rating": {{"code": "{code}", "name": "{name}"}}, '
                f'"developer": [{devs}], '
                f'"metrics": [{{"k": "score", "v": {round(rng.uniform(0, 10), 2)}}}, '
                f'{{"k": "sales", "v": {rng.randint(0, 10**6)}}}]}}'
            )
            counts["developer"] += devs.count('"name"')
            counts["metrics"] += 2
        f.write("\n]\n" if as_array else "\n")
    return counts
