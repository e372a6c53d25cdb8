"""Seeded generator for the seven raw IMDb TSV tables the daily pipeline reads.

The tables follow the public dump's layout: tab-separated, a header row,
every column a string and the literal ``\\N`` for null.  Row counts keep the
dump's proportions per title (about 17 rows of all tables per title: 0.8
episodes, 8 principals, 4.8 akas, 1.3 names, one crew row, and ratings for a
minority of titles).  A fixed block of planted titles guarantees every edge
case FIXTURES.md lists, whatever the seed.

``generate`` also predicts, from the rows it wrote, the row counts the
pipeline must publish for one run date, so every run can be checked without
a second engine.

    python3 benchmark/imdbgen.py OUT_DIR --seed 1 --titles 20000
"""
import argparse
import hashlib
import json
import os
import random

TABLES = ("title_basics", "title_ratings", "title_crew", "name_basics",
          "title_principals", "title_akas", "title_episode")

HEADERS = {
    "title_basics": "tconst titleType primaryTitle originalTitle isAdult "
                    "startYear endYear runtimeMinutes genres",
    "title_ratings": "tconst averageRating numVotes",
    "title_crew": "tconst directors writers",
    "name_basics": "nconst primaryName birthYear deathYear primaryProfession "
                   "knownForTitles",
    "title_principals": "tconst ordering nconst category job characters",
    "title_akas": "titleId ordering title region language types attributes "
                  "isOriginalTitle",
    "title_episode": "tconst parentTconst seasonNumber episodeNumber",
}

N = "\\N"
GENRES = ("Drama", "Comedy", "Documentary", "Action", "Romance", "Thriller",
          "Crime", "Horror", "Adventure", "Family", "Animation", "Biography",
          "Mystery", "Fantasy", "Sci-Fi", "History", "Music", "War", "Western",
          "Sport", "Musical", "Film-Noir", "Reality-TV", "Talk-Show", "News")
WORDS = ("night", "river", "last", "city", "dark", "love", "road", "house",
         "blue", "king", "storm", "game", "little", "secret", "winter", "home",
         "fire", "lost", "star", "girl", "man", "war", "summer", "dream",
         "shadow", "golden", "silent", "wild", "broken", "second")
REGIONS = ("US", "GB", "FR", "DE", "ES", "IT", "JP", "IN", "BR", "MX", "\\N")
CATEGORIES = (("actor", 30), ("actress", 20), ("self", 15), ("director", 8),
              ("writer", 8), ("producer", 7), ("composer", 3),
              ("cinematographer", 3), ("editor", 3), ("archive_footage", 3))
# title types with the dump's shares; tvEpisode rows are attached to series
TYPES = (("tvEpisode", 72), ("short", 9), ("movie", 7), ("video", 3),
         ("tvSeries", 3), ("tvMovie", 2), ("tvMiniSeries", 1),
         ("tvSpecial", 1), ("videoGame", 2))
# Partition fan-out of a daily slice: movie facts are partitioned by
# (decade, genre) and episode facts by (series decade, season). The full
# dump spans ~15 decades and 28 genres; the benchmark's dump keeps its row
# proportions but spans YEAR_MIN..2025, GENRE_COUNT genres and MAX_SEASONS
# seasons, so the small daily slice is not all partition-file overhead and
# every seed fills the same partitions.
YEAR_MIN = 1990
GENRE_COUNT = 12
MAX_SEASONS = 6
AWARD_TITLES = ("The Oscar Night", "oscar contender", "OSCAR Winners",
                "Academy Award Story", "the academy award years",
                "ACADEMY AWARD Special")


def _cum(weighted):
    out, acc = [], 0
    for name, w in weighted:
        acc += w
        out.append((acc, name))
    return out, acc


def _pick(rng, cum):
    table, total = cum
    x = rng.random() * total
    for bound, name in table:
        if x < bound:
            return name
    return table[-1][1]


def _title(rng):
    k = 1 + int(rng.random() * 4)
    return " ".join(WORDS[int(rng.random() * len(WORDS))] for _ in range(k)).title()


class _Dump:
    """Rows of all seven tables plus the facts the predictions need."""

    def __init__(self):
        self.rows = {t: [] for t in TABLES}
        self.kind = {}           # tconst -> titleType
        self.movies = []         # (tconst, startYear, genres, rating, votes)
        self.episodes = []       # (tconst, parent, seasonNumber or None)


def _emit_title(d, tconst, ttype, title, start, end, runtime, genres):
    d.rows["title_basics"].append(
        (tconst, ttype, title, title, "0", start, end, runtime, genres))
    d.kind[tconst] = ttype


def _plant(d, rng, names, ratings):
    """The FIXTURES.md edge cases, at fixed tconsts, for every seed."""
    planted = [
        # a rated movie with three genres and an Oscar aka
        ("tt9000001", "movie", "1994", N, "142", "Drama,Crime,Mystery"),
        ("tt9000002", "movie", "2001", N, N, "Comedy"),            # \N runtime
        ("tt9000003", "movie", N, N, "95", "Drama"),               # \N startYear
        ("tt9000004", "tvSeries", "2010", "2015", "45", "Drama,Thriller"),
        ("tt9000005", "short", "2004", N, "12", "Animation"),      # short
        ("tt9000006", "movie", "1988", N, "101", N),               # \N genres
    ]
    for tconst, ttype, start, end, runtime, genres in planted:
        _emit_title(d, tconst, ttype, "Planted " + tconst, start, end, runtime,
                    genres)
    ratings["tt9000001"] = ("8.7", "250000")   # numVotes > 10000
    ratings["tt9000002"] = ("6.1", "1500")
    d.movies.append(("tt9000001", 1994, "Drama,Crime,Mystery") + ratings["tt9000001"])
    d.movies.append(("tt9000002", 2001, "Comedy") + ratings["tt9000002"])
    # series tt9000004: S1 E1..E3, S2 E1..E2 and a special with \N season
    eps = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (None, None)]
    for i, (season, number) in enumerate(eps):
        ep = "tt90001%02d" % i
        _emit_title(d, ep, "tvEpisode", "Planted episode %d" % i, "2011", N,
                    "44", "Drama")
        d.rows["title_episode"].append(
            (ep, "tt9000004", N if season is None else str(season),
             N if number is None else str(number)))
        d.episodes.append((ep, "tt9000004", season))
        ratings[ep] = ("%.1f" % (6 + i * 0.5), str(200 + i))
    # an orphan episode: its parent is absent from title_basics
    _emit_title(d, "tt9000199", "tvEpisode", "Orphan episode", "2012", N, "30",
                "Comedy")
    d.rows["title_episode"].append(("tt9000199", "tt9999999", "1", "1"))
    d.episodes.append(("tt9000199", "tt9999999", 1))
    # six billed cast members (past the top 3), one \N ordering, plus
    # director and self rows that the pipeline filters out
    cast = [("1", "actor"), ("2", "actress"), (N, "actor"), ("3", "actor"),
            ("4", "actress"), ("5", "actor"), ("6", "director"), ("7", "self")]
    for i, (ordering, category) in enumerate(cast):
        d.rows["title_principals"].append(
            ("tt9000001", ordering, names[i], category, N, N))
    # Oscar / Academy Award akas in mixed case, a duplicate titleId, and
    # unmatched akas
    akas = [("tt9000001", "The OSCAR Winner"), ("tt9000001", "Oscar story"),
            ("tt9000002", "an Academy Award tale"),
            ("tt9000006", "ACADEMY AWARD night"),
            ("tt9000001", "Untitled"), ("tt9000002", "Plain title")]
    for i, (tid, title) in enumerate(akas):
        d.rows["title_akas"].append(
            (tid, str(i + 1), title, "US", N, N, N, "0"))
    for t in ("tt9000001", "tt9000002", "tt9000003", "tt9000004",
              "tt9000005", "tt9000006"):
        d.rows["title_crew"].append((t, names[0], names[1]))


def _build(seed, titles):
    rng = random.Random(seed)
    d = _Dump()
    n_names = max(16, int(titles * 1.3))
    names = ["nm%07d" % (i + 1) for i in range(n_names)]
    ratings = {}
    _plant(d, rng, names, ratings)
    types = _cum(TYPES)
    cats = _cum(CATEGORIES)
    series = []                  # (tconst, next season state)
    next_id = 1
    for _ in range(titles - len(d.rows["title_basics"])):
        tconst = "tt%07d" % next_id
        next_id += 1
        ttype = _pick(rng, types)
        if ttype == "tvEpisode" and not series:
            ttype = "tvSeries"
        start = str(YEAR_MIN + int(rng.random() * (2026 - YEAR_MIN)))
        if rng.random() < 0.04:
            start = N
        runtime = str(1 + int(rng.random() * 180)) if rng.random() > 0.12 else N
        k = 1 + int(rng.random() * 3)
        genres = ",".join(sorted({GENRES[int(rng.random() * GENRE_COUNT)]
                                  for _ in range(k)}))
        if rng.random() < 0.05:
            genres = N
        end = N
        if ttype in ("tvSeries", "tvMiniSeries"):
            if start != N and rng.random() < 0.5:
                end = str(min(2025, int(start) + int(rng.random() * 12)))
            series.append([tconst, 1, 0])
            if len(series) > 400:
                series.pop(0)
        title = _title(rng)
        _emit_title(d, tconst, ttype, title, start, end, runtime, genres)
        if ttype == "tvEpisode":
            s = series[int(rng.random() * len(series))]
            if rng.random() < 0.03:
                season, number = None, None
            else:
                if s[2] >= 3 + int(rng.random() * 10) and s[1] < MAX_SEASONS:
                    s[1] += 1
                    s[2] = 0
                s[2] += 1
                season, number = s[1], s[2]
            parent = s[0]
            if rng.random() < 0.005:
                parent = "tt8%06d" % next_id        # orphan: absent parent
            d.rows["title_episode"].append(
                (tconst, parent, N if season is None else str(season),
                 N if number is None else str(number)))
            d.episodes.append((tconst, parent, season))
        # ratings: movies and series mostly rated, episodes sometimes
        p_rated = {"movie": 0.6, "tvSeries": 0.5, "tvMiniSeries": 0.5,
                   "tvEpisode": 0.12}.get(ttype, 0.1)
        if rng.random() < p_rated:
            votes = int(5 + rng.random() ** 4 * 60000)
            ratings[tconst] = ("%.1f" % (1 + rng.random() * 9), str(votes))
        if ttype == "movie" and start != N and genres != N:
            r = ratings.get(tconst)
            d.movies.append((tconst, int(start), genres) +
                            (r if r else (None, None)))
        # crew: one row per title
        dirs = ",".join(names[int(rng.random() * n_names)]
                        for _ in range(1 + int(rng.random() * 2)))
        d.rows["title_crew"].append(
            (tconst, dirs if rng.random() > 0.2 else N,
             dirs if rng.random() > 0.4 else N))
        # principals: about 8 per title, ordering 1..k, rarely \N
        k = 1 + int(rng.random() * 14)
        for o in range(1, k + 1):
            d.rows["title_principals"].append(
                (tconst, str(o) if rng.random() > 0.005 else N,
                 names[int(rng.random() * n_names)], _pick(rng, cats), N,
                 N if rng.random() < 0.6 else '["Self"]'))
        # akas: about 4.8 per title, a few award-flavoured
        k = int(rng.random() * 9.6)
        for o in range(1, k + 1):
            aka = (AWARD_TITLES[int(rng.random() * len(AWARD_TITLES))]
                   if rng.random() < 0.002 else _title(rng))
            d.rows["title_akas"].append(
                (tconst, str(o), aka, REGIONS[int(rng.random() * len(REGIONS))],
                 N, N if rng.random() < 0.7 else "imdbDisplay", N,
                 "1" if o == 1 else "0"))
    for tconst in sorted(ratings):
        d.rows["title_ratings"].append((tconst,) + ratings[tconst])
    for i, nc in enumerate(names):
        birth = str(1880 + int(rng.random() * 120)) if rng.random() > 0.5 else N
        d.rows["name_basics"].append(
            (nc, "Person %d" % (i + 1), birth, N, "actor,producer",
             "tt%07d" % (1 + int(rng.random() * max(1, next_id - 1)))))
    return d


def predict(d):
    """Row counts the pipeline publishes for one run date."""
    movie_rows = sum(len(g.split(",")) for _, _, g, _, _ in d.movies)
    groups = {}
    for _, start, g, rating, votes in d.movies:
        if rating is None or int(votes) < 1000:
            continue
        for genre in g.split(","):
            key = (genre, start // 10 * 10)
            groups[key] = groups.get(key, 0) + 1
    top_rows = sum(min(25, n) for n in groups.values())
    known = set(d.kind)
    seasons, trends = set(), set()
    for _, parent, season in d.episodes:
        sid = parent if parent in known else None
        seasons.add((sid, -1 if season is None else season))
        if season is not None:
            trends.add((sid, season))
    return {
        "analytics_movie_facts_v2": movie_rows,
        "analytics_episode_facts_v2": len(d.episodes),
        "series_season_summary_v2": len(seasons),
        "analytics_quality": 3,
        "marts_top_movies_by_genre": top_rows,
        "marts_episode_season_trends": len(trends),
    }


def edge_cases(d):
    """Which FIXTURES.md edge cases the dump holds (all must be True)."""
    basics = d.rows["title_basics"]
    prin = d.rows["title_principals"]
    eps = d.rows["title_episode"]
    akas = [a[2].lower() for a in d.rows["title_akas"]]
    akas_raw = [a[2] for a in d.rows["title_akas"]]
    per_title = {}
    for p in prin:
        if p[3] in ("actor", "actress"):
            per_title[p[0]] = per_title.get(p[0], 0) + 1
    known = set(d.kind)
    return {
        "null_startYear": any(b[1] == "movie" and b[5] == N for b in basics),
        "null_runtime": any(b[1] == "movie" and b[7] == N for b in basics),
        "null_genres": any(b[1] == "movie" and b[8] == N for b in basics),
        "three_genres": any(b[8] != N and len(b[8].split(",")) == 3 for b in basics),
        "null_ordering": any(p[1] == N for p in prin),
        "null_seasonNumber": any(e[2] == N for e in eps),
        "short": any(b[1] == "short" for b in basics),
        "series_with_end": any(b[1] == "tvSeries" and b[6] != N for b in basics),
        "orphan_episode": any(e[1] not in known for e in eps),
        "oscar_aka": any("oscar" in a for a in akas),
        "academy_award_aka": any("academy award" in a for a in akas),
        "mixed_case_award": any(("Oscar" in a or "OSCAR" in a) for a in akas_raw)
                            and any("ACADEMY AWARD" in a for a in akas_raw),
        "principals_past_top3": any(n >= 5 for n in per_title.values()),
        "filtered_categories": any(p[3] in ("director", "self") for p in prin),
        "votes_over_10000": any(int(r[2]) > 10000 for r in d.rows["title_ratings"]),
    }


def generate(out_dir, seed, titles):
    """Write the dump under ``out_dir``; return its description."""
    d = _build(seed, titles)
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    sizes = {}
    for t in TABLES:
        body = "\t".join(HEADERS[t].split()) + "\n" + "".join(
            "\t".join(r) + "\n" for r in d.rows[t])
        data = body.encode()
        digest.update(t.encode() + b"\0" + data)
        sizes[t] = len(data)
        with open(os.path.join(out_dir, t + ".tsv"), "wb") as f:
            f.write(data)
    return {
        "seed": seed,
        "titles": titles,
        "rows": {t: len(d.rows[t]) for t in TABLES},
        "bytes": sum(sizes.values()),
        "digest": digest.hexdigest(),
        "expected_rows": predict(d),
        "edge_cases": edge_cases(d),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--titles", type=int, default=20000)
    a = ap.parse_args()
    print(json.dumps(generate(a.out_dir, a.seed, a.titles), indent=1))


if __name__ == "__main__":
    main()
