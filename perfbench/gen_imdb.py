"""Seeded generator of IMDB-shaped pipeline inputs.

Reproduces the quirks FIXTURES.md A1-A6 documents for the reference's
IMDB data, so `ImdbPipeline.run` sees inputs of the same shape without
the reference checkout:

  A1  train-1..8.csv whose header starts with a comma (unnamed pandas
      index column, with gaps), `\\N` sentinels in startYear / endYear /
      runtimeMinutes, empty numVotes cells, accented and non-English
      titles, some empty titles
  A2  test.csv: the same columns without `label`; the labels are held
      back in a file the program is never given
  A3  writing.json: one-line top-level JSON array of {movie, writer}
  A4  directing.json: pandas "columns" orient, {"movie": {idx: tconst},
      "director": {idx: nmconst}}
  A5  genre cache CSV: tconst,genre over about half the movies, genres
      from the 18-name whitelist plus `unknown`
  A6  TMDB-like extra CSV with duplicate imdb_id rows and zero / empty
      budget, revenue and popularity cells

The label is a planted, learnable rule over numVotes, runtime, decade
and a hidden per-director effect, plus noise, so holdout accuracy is a
meaningful output check.

Output depends only on (seed, sizes, GEN_VERSION); `generate` is a
no-op when a complete directory for the same key already exists.
"""
import csv
import json
import os
import shutil
import sys
import time

import numpy as np

# Bump on any change to generated content.
GEN_VERSION = 1

GENRES = ["Action", "Adventure", "Animation", "Biography", "Comedy",
          "Crime", "Documentary", "Drama", "Family", "Fantasy",
          "History", "Horror", "Music", "Mystery", "Romance",
          "Sci-Fi", "Thriller", "War"]

WORDS_EN = ["The", "Doll", "Night", "Return", "Last", "City", "Blue",
            "Man", "Woman", "Love", "Story", "War", "Dream", "House",
            "Shadow", "River", "King", "Secret", "Road", "Star"]
WORDS_INTL = ["Déstiny", "Der", "müde", "Tod", "Città", "Niño", "Amélie",
              "Søren", "Łódź", "Über", "Café", "naïve", "Ça", "Été",
              "Mañana", "Fräulein", "Kärlek", "Ōkami", "Добро", "夜"]


def _title(rng, words):
    k = int(rng.integers(1, 5))
    return " ".join(words[int(i)] for i in rng.integers(0, len(words), k))


def _fmt_votes(v):
    return "" if v is None else f"{v:.1f}"


def generate(out_dir, seed, n_train=8000, n_test=1000, n_writing=22400,
             n_directing=11200, n_trains_files=8):
    """Write one input set under `out_dir`; return its manifest."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([GEN_VERSION, seed])
    n = n_train + n_test
    ids = rng.choice(9_000_000, size=n, replace=False) + 100_000
    tconst = [f"tt{i:07d}" for i in ids]

    # people: Zipf-like reuse so the top-entity window has real ties
    n_dirs = max(50, n // 3)
    n_writers = max(50, n // 2)
    dir_effect = rng.normal(0.0, 1.0, n_dirs)
    movie_dir = np.minimum(rng.zipf(1.6, n) - 1, n_dirs - 1)

    start_year = rng.integers(1915, 2024, n)
    runtime = np.clip(rng.normal(100, 25, n), 40, 240).round()
    votes = np.exp(rng.normal(7.5, 1.6, n)).round()
    score = (0.9 * (np.log(votes) - 7.5) / 1.6
             + 0.6 * (runtime - 100) / 25
             + 0.5 * (start_year < 1960)
             + 0.7 * dir_effect[movie_dir]
             + rng.normal(0.0, 0.45, n))
    label = score > np.median(score)

    intl = rng.random(n) < 0.3
    rows = []
    for i in range(n):
        words = WORDS_INTL if intl[i] else WORDS_EN
        primary = _title(rng, words)
        original = _title(rng, WORDS_INTL) if intl[i] else primary
        r = rng.random()
        if r < 0.02:
            primary = ""
        elif r < 0.04:
            original = ""
        if rng.random() < 0.03:
            primary = primary + ", Part " + str(int(rng.integers(2, 4)))
        sy = str(int(start_year[i])) if rng.random() > 0.01 else "\\N"
        ey = (str(int(start_year[i]) + int(rng.integers(0, 6)))
              if rng.random() < 0.1 else "\\N")
        rt = str(int(runtime[i])) if rng.random() > 0.05 else "\\N"
        nv = _fmt_votes(None if rng.random() < 0.09 else float(votes[i]))
        rows.append([tconst[i], primary, original, sy, ey, rt, nv])

    header = ["", "tconst", "primaryTitle", "originalTitle", "startYear",
              "endYear", "runtimeMinutes", "numVotes"]
    # pandas index with gaps, as the reference's split files carry
    index = np.cumsum(rng.integers(1, 3, n))
    per_file = -(-n_train // n_trains_files)
    for f in range(n_trains_files):
        lo, hi = f * per_file, min(n_train, (f + 1) * per_file)
        with open(os.path.join(tmp, f"train-{f + 1}.csv"), "w",
                  newline="", encoding="utf-8") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(header + ["label"])
            for i in range(lo, hi):
                w.writerow([int(index[i])] + rows[i] +
                           ["True" if label[i] else "False"])
    with open(os.path.join(tmp, "test.csv"), "w", newline="",
              encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        for i in range(n_train, n):
            w.writerow([int(index[i])] + rows[i])
    # held-back labels: never passed to the program
    with open(os.path.join(tmp, "heldout_labels.csv"), "w") as fh:
        fh.write("tconst,label\n")
        for i in range(n_train, n):
            fh.write(f"{tconst[i]},{'True' if label[i] else 'False'}\n")

    # A3: writing pairs, several writers per movie
    wm = rng.integers(0, n, n_writing)
    ww = np.minimum(rng.zipf(1.5, n_writing) - 1, n_writers - 1)
    writing = [{"movie": tconst[int(m)], "writer": f"nm{int(x) + 1000000:07d}"}
               for m, x in zip(wm, ww)]
    with open(os.path.join(tmp, "writing.json"), "w") as fh:
        json.dump(writing, fh, separators=(",", ":"))

    # A4: directing pairs, the planted director first, then extras
    dm = np.concatenate([np.arange(n), rng.integers(0, n, max(0, n_directing - n))])
    dd = np.concatenate([movie_dir,
                         np.minimum(rng.zipf(1.6, max(0, n_directing - n)) - 1,
                                    n_dirs - 1)])
    directing = {"movie": {str(k): tconst[int(m)] for k, m in enumerate(dm)},
                 "director": {str(k): f"nm{int(d) + 2000000:07d}"
                              for k, d in enumerate(dd)}}
    with open(os.path.join(tmp, "directing.json"), "w") as fh:
        json.dump(directing, fh)

    # A5: genre cache over about half the movies
    cached = np.flatnonzero(rng.random(n) < 0.5)
    with open(os.path.join(tmp, "genre_cache.csv"), "w") as fh:
        fh.write("tconst,genre\n")
        for i in cached:
            g = GENRES[int(rng.integers(0, len(GENRES)))] \
                if rng.random() > 0.05 else "unknown"
            fh.write(f"{tconst[int(i)]},{g}\n")

    # A6: TMDB-like extra table: ~70% coverage, ~5% duplicate ids,
    # zero and empty money cells
    ex = np.flatnonzero(rng.random(n) < 0.7)
    ex = np.concatenate([ex, rng.choice(ex, size=len(ex) // 20)])
    rng.shuffle(ex)
    with open(os.path.join(tmp, "tmdb_extra.csv"), "w", newline="",
              encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(["id", "imdb_id", "title", "budget", "revenue",
                    "popularity"])
        for k, i in enumerate(ex):
            def money(scale):
                r = rng.random()
                if r < 0.25:
                    return "0"
                if r < 0.30:
                    return ""
                return str(int(rng.exponential(scale)))
            pop = "" if rng.random() < 0.03 else f"{rng.exponential(8.0):.3f}"
            w.writerow([k + 1, tconst[int(i)], rows[int(i)][1],
                        money(2e7), money(5e7), pop])

    manifest = {"seed": seed, "gen_version": GEN_VERSION,
                "n_train": n_train, "n_test": n_test,
                "n_writing": n_writing, "n_directing": len(dm),
                "n_cache": int(len(cached)), "n_extra": int(len(ex)),
                "gen_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        json.dump(manifest, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]))))
