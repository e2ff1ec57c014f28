"""Seeded generator for the scraped-article corpus `etl_articles` reads.

Builds JSON-array files in the four scraper shapes of FIXTURES.md
section 1 (ScienceDirect raw/upd, IEEE raw/upd) with the mess the
cleaning stage exists for: date, publisher and citation sentinels,
empty arrays, email addresses in country fields, mojibake, non-ISO
country spellings, names with quotes, apostrophes and newlines, DOIs
repeated across files, and author/keyword fan-out.

The expected row count of every star-schema table is known by
construction: each generated row is tagged with the cleaning rule that
drops it (or with none), and the dims are counted over the natural keys
the surviving rows carry. Nothing here reads or imports the pipeline.

    python3 perfbench/gen_articles.py <out-dir> <seed> [articles]

writes the corpus to `<out-dir>/corpus/*.json` and the expected counts
to `<out-dir>/expected.json`.
"""
import json
import os
import random
import re
import sys

TOPICS = ["AI", "Big Data", "Blockchain", "Cryptography", "DevOps", "IoT"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
# spelling -> canonical name after the cleaning stage's alias map
COUNTRIES = {
    "United States": "United States", "USA": "United States",
    "United Kingdom": "United Kingdom", "U.K.": "United Kingdom",
    "South Korea": "South Korea", "Republic of Korea": "South Korea",
    "Vietnam": "Vietnam", "Viet Nam": "Vietnam",
    "Germany": "Germany", "France": "France", "India": "India",
    "China": "China", "Brazil": "Brazil", "Unknown": "Unknown",
}
EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
WORDS = ["learning", "network", "secure", "ledger", "stream", "edge",
         "model", "graph", "privacy", "sensor", "cloud", "pipeline",
         "quantum", "federated", "consensus", "latency", "robust"]
FIRST = ["Ana", "Björn", "BjÃ¶rn", "Chen", "Dmitri", "Elif", "Farah", "Goran",
         "Hiro", "Ines", "Jae", "Kofi", "Lena", "Mateo", "Nia", "O'Brien"]
LAST = ["Schuller", "Wang", "Ivanova", "Kaya", "Haddad", "Petrov", "Sato",
        "Costa", "Park", "Mensah", "Novak", "Rossi", "Garcia", "D'Souza"]
UNIS = ["MIT", "ETH Zurich", "University of Oxford", "KAIST", "Hanoi University",
        "TU Munich", "IIT Bombay", "Tsinghua University", "USP", "Sorbonne"]


def _variant_files():
    """(file name, website, variant) for every topic x variant pair."""
    out = []
    for topic in TOPICS:
        for site, tag in (("Science Direct", "ScienceDirect"), ("IEEE Xplore", "IEEE")):
            for upd in (False, True):
                name = f"{tag}_{topic.replace(' ', '')}{'_upd' if upd else ''}.json"
                out.append((name, site, topic, upd))
    return out


class _Pools:
    def __init__(self, rng, n):
        self.keywords = [f"{rng.choice(WORDS)} {rng.choice(WORDS)} {i}"
                         for i in range(max(20, n // 4))]
        self.authors = []
        for i in range(max(30, n // 2)):
            name = f"{rng.choice(FIRST)} {rng.choice(LAST)} {i}"
            if i % 97 == 5:
                name = f'{name} "Jr."'          # quote inside a CSV field
            if i % 89 == 7:
                name = f"{name}\nII"             # newline inside a CSV field
            self.authors.append(name)
        self.publishers = []
        for i in range(max(8, n // 40)):
            issn = f"{10000000 + i * 7919:08d}"
            if i % 11 == 3:
                issn = f"{issn}, {20000000 + i:08d}"   # multi-ISSN publisher
            name = f"Journal of {rng.choice(WORDS).title()} {i}"
            if i % 5 == 1:
                name = f"{name} Researcher's Letters"  # SQL escaping
            self.publishers.append((issn, name, rng.choice(["Q1", "Q2", "Q3", "Q4"])))


def _affiliation(rng, pools):
    name = rng.choice(pools.authors)
    # the same name at two universities fans out into two author rows
    uni = rng.choice(UNIS[:3]) if len(name) % 2 else rng.choice(UNIS)
    if rng.random() < 0.06:
        country = f"{name.split()[0].lower()}@{uni.split()[0].lower()}.edu"
    else:
        country = rng.choice(sorted(COUNTRIES))
    location = uni if country == "Unknown" else f"{uni}, {country}"
    return {"author": name, "university": uni, "country": country,
            "location": location}


def _article(rng, pools, doi, site, topic, upd, kind):
    day, month, year = rng.randint(1, 28), rng.choice(MONTHS), rng.choice([2022, 2023, 2024])
    affs = [_affiliation(rng, pools) for _ in range(rng.randint(1, 5))]
    kws = [rng.choice(pools.keywords) for _ in range(rng.randint(1, 6))]
    if rng.random() < 0.2:
        kws.append(kws[0])                       # repeated within the article
    if rng.random() < 0.1:
        kws.append("")                           # empty keyword string
    a = {
        "title": f"On {rng.choice(WORDS)} {rng.choice(WORDS)} for {topic} â systems",
        "authors": [x["author"] for x in affs],
        "authors_with_affiliations": affs,
        "universities": sorted({x["university"] for x in affs}),
        "countries": [x["country"] for x in affs],
        "Date": f"{day} {month} {year}", "Month": month, "Day": day, "Year": year,
        "abstract": "We study " + " ".join(rng.choice(WORDS) for _ in range(40))
                    + ".\nResults â¢ improve by " + str(rng.randint(1, 99)) + "%.",
        "doi": doi,
        "citations": rng.randint(0, 500),
        "type": "RESEARCH-ARTICLE",
        "keywords": kws,
        "topic": topic,
        "website": site,
    }
    issn, pname, quartile = rng.choice(pools.publishers)
    if upd:
        a["publisher"] = {"name": pname, "ISSN": issn, "Quartile": quartile}
        if rng.random() < 0.1:
            a["_id"] = "%024x" % rng.getrandbits(96)
            a["Downloads"] = None
    else:
        a["journal_name"] = pname
        if site == "IEEE Xplore":
            a["ISSN"] = issn.split(",")[0]
    if site == "IEEE Xplore":
        a["locations"] = [x["location"] for x in affs]
    if kind == "date":
        a.update({"Date": "Date not found", "Day": "Day not found",
                  "Month": "Month not found", "Year": "Year not found"})
    elif kind == "publisher":
        a["publisher"] = rng.choice([{"name": "", "ISSN": "N/A", "Quartile": ""},
                                     {"name": pname, "ISSN": None, "Quartile": quartile}])
    elif kind == "citations":
        a["citations"] = None
    elif kind == "empty":
        a["authors"], a["authors_with_affiliations"] = [], []
    return a


def generate(seed, n_articles=2000):
    """Return ({file name: [article dicts]}, expected table counts)."""
    rng = random.Random(seed)
    pools = _Pools(rng, n_articles)
    files = _variant_files()
    upd_files = [f for f in files if f[3]]
    raw_files = [f for f in files if not f[3]]
    corpus = {f[0]: [] for f in files}
    survivors = []
    for i in range(n_articles):
        r = rng.random()
        if r < 0.55:
            name, site, topic, _ = rng.choice(upd_files)
            kind = None
        elif r < 0.80:
            name, site, topic, _ = rng.choice(raw_files)
            kind = "raw"                         # no Quartile: dropped by P1
        else:
            name, site, topic, _ = rng.choice(upd_files)
            kind = rng.choice(["date", "publisher", "citations", "empty"])
        prefix = "10.1109" if site == "IEEE Xplore" else "10.1016"
        doi = f"https://doi.org/{prefix}/bench.{i:07d}"
        a = _article(rng, pools, doi, site, topic, kind != "raw", kind)
        corpus[name].append(a)
        if kind is None:
            survivors.append(a)
            # the same DOI scraped again: an identical updated copy and a
            # raw copy in other files; ingest keeps one row per DOI
            if rng.random() < 0.08:
                other = rng.choice([f for f in upd_files if f[1] == site])
                corpus[other[0]].append(json.loads(json.dumps(a)))
            if rng.random() < 0.08:
                other = rng.choice([f for f in raw_files if f[1] == site])
                raw = {k: v for k, v in a.items() if k not in ("publisher", "_id", "Downloads")}
                raw["journal_name"] = a["publisher"]["name"]
                corpus[other[0]].append(raw)
    for rows in corpus.values():
        rng.shuffle(rows)
    return corpus, expected_counts(survivors)


def _clean_text(s):
    return re.sub(r"[^A-Za-zÀ-ÿ0-9\s'-]", "", s).replace("\n", "")


def expected_counts(survivors):
    """Row counts of the eight star-schema tables over the rows that
    survive cleaning, from their natural keys."""
    def author_keys(a):
        return {(x["author"], COUNTRIES[x["country"]], x["university"])
                for x in a["authors_with_affiliations"]
                if not EMAIL.search(x["country"])}

    def keyword_keys(a):
        return {k for k in a["keywords"] if k != ""}

    return {
        "articles": len(survivors),
        "publishers": len({a["publisher"]["ISSN"] for a in survivors}),
        "keywords": len(set().union(*(keyword_keys(a) for a in survivors))),
        "topics": len({a["topic"] for a in survivors}),
        "dates": len({_clean_text(a["Date"]) for a in survivors}),
        "authors": len(set().union(*(author_keys(a) for a in survivors))),
        "author_article_mapping": sum(len(author_keys(a)) for a in survivors),
        "keywords_articles_mapping": sum(len(keyword_keys(a)) for a in survivors),
    }


def write(out_dir, seed, n_articles=2000):
    corpus, expected = generate(seed, n_articles)
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    paths = []
    for name in sorted(corpus):
        path = os.path.join(out_dir, "corpus", name)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(corpus[name], f, ensure_ascii=False, indent=4)
        paths.append(path)
    total_bytes = sum(os.path.getsize(p) for p in paths)
    n_rows = sum(len(v) for v in corpus.values())
    meta = {"articles": n_articles, "rows": n_rows, "bytes": total_bytes,
            "files": [os.path.basename(p) for p in paths], "tables": expected}
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(write(sys.argv[1], int(sys.argv[2]),
                           int(sys.argv[3]) if len(sys.argv) > 3 else 2000)))
