"""Seeded input generator for `insights_scale`.

The program receives only what this writes: a Play-Store-shaped CSV. The
same seed always writes the same bytes. (`declared_queries` reads the
project's own sf0.01 tables, kept under `perfbench/data/sf0.01`.)
"""
import numpy as np


def playstore_csv(path, seed, rows, distinct_devs=5000):
    """The `graft.SynthPlayStore` shape, seeded: one ~`distinct_devs`
    distinct `developerId` whose display columns depend on it alone, every
    other grouping column low-cardinality after the reference's bucketing,
    and about 2 % of rows outside the cleaning ranges. Returns the number of
    data rows written."""
    r = np.random.default_rng(seed)
    dev = r.integers(0, distinct_devs, rows)
    genre = r.integers(0, 50, rows)
    dirty = r.integers(0, 100, rows) < 2
    dirty_ratings = dirty & (r.integers(0, 2, rows) == 1)
    min_inst = (10 ** r.integers(0, 8, rows)) * (1 + r.integers(0, 9, rows))
    paid = r.integers(0, 10, rows) >= 8
    price = np.where(paid, 1 + r.integers(0, 499, rows), 0)
    ratings = np.where(dirty_ratings, 200, r.integers(0, 101, rows))
    shots = r.integers(0, 31, rows)
    reviews = r.integers(0, 5000000, rows)
    score = r.integers(0, 50, rows) / 10.0
    year = np.where(dirty, 1950, 1990 + r.integers(0, 34, rows))
    bools = {p: r.integers(0, 100, rows) < p for p in (80, 30, 60, 55)}
    tf = np.array(["False", "True"])
    with open(path, "w") as f:
        f.write("_c0,appId,developer,developerId,developerWebsite,free,genre,"
                "genreId,minInstalls,offersIAP,originalPrice,price,ratings,"
                "len screenshots,adSupported,containsAds,reviews,score,"
                "releasedYear\n")
        for i in range(rows):
            d = int(dev[i])
            # the website is empty for a fixed share of developers, so the
            # id -> value dependency holds corpus-wide
            site = "" if d % 7 == 0 else f"http://dev{d}.example.com"
            g = int(genre[i])
            f.write(f"{i},com.app.a{i},Developer_{d},dev{d},{site},"
                    f"{tf[int(bools[80][i])]},Genre_{g},GENRE{g},{min_inst[i]},"
                    f"{tf[int(bools[30][i])]},{price[i]},{price[i]},"
                    f"{ratings[i]},{shots[i]},{tf[int(bools[60][i])]},"
                    f"{tf[int(bools[55][i])]},{reviews[i]},{score[i]},"
                    f"{year[i]}\n")
    return rows

