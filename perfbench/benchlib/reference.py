"""References the benchmark checks graft's outputs against, written
independently of graft: its own tokenizer and trigram Jaccard for entity
linking and the SSSOM reconcile rule."""

import json
import re
from collections import Counter, defaultdict

# -------------------------------------------------------------- reconcile

# SSSOM predicate hierarchy, best first (sssom-py constants)
_RANK = {p: i for i, p in enumerate([
    "owl:equivalentClass", "owl:equivalentProperty", "rdfs:subClassOf",
    "rdfs:subPropertyOf", "owl:sameAs", "skos:exactMatch", "skos:closeMatch",
    "skos:broadMatch", "skos:narrowMatch", "oboInOwl:hasDbXref",
    "skos:relatedMatch", "rdfs:seeAlso"])}


def reconcile(rows):
    """sssom-py's filter_redundant_rows on rows (s, s_label, p, o, o_label,
    justification, confidence): keep the rows at their (s, o, p) group's
    best confidence; where several predicates share a (s, o) pair's
    confidence, keep the best-ranked predicate."""
    best = defaultdict(float)
    for r in rows:
        k = (r[0], r[3], r[2])
        best[k] = max(best[k], r[6])
    kept = list(dict.fromkeys(r for r in rows if r[6] >= best[(r[0], r[3], r[2])]))
    groups = defaultdict(list)
    for r in kept:
        groups[(r[0], r[3], r[6])].append(r)
    out = []
    for g in groups.values():
        top = min(_RANK.get(r[2], len(_RANK)) for r in g)
        out += g if len(g) <= 1 else [r for r in g if _RANK.get(r[2], len(_RANK)) == top]
    return out


# ----------------------------------------------------------- entity links

def normalize(s):
    return re.sub(r"[^a-z0-9 ]", "", s.strip(" ").lower())


def mentions(text, max_n=3):
    """Candidate mentions of a turn: its 1..max_n token spans of at least
    three characters."""
    toks = re.split(r"\s+", normalize(text))
    spans = (" ".join(toks[i:i + n]) for i in range(len(toks))
             for n in range(1, min(max_n, len(toks) - i) + 1))
    return {m for m in spans if len(m) >= 3}


def trigrams(s):
    return {s[i:i + 3] for i in range(len(s) - 2)}


def link_reference(texts, dictionary, threshold=0.55):
    """Brute-force (mention, predicate, concept) triples: a mention equal
    to a concept's label is an exactMatch, equal to its synonym a
    closeMatch; a multi-word mention of seven or more characters whose
    trigram Jaccard with a label reaches `threshold` is a closeMatch. Each
    such mention is scored against every label that shares a trigram with
    it, which is every label that can reach a positive threshold; the shared
    trigrams are counted through an inverted index, so |A & B| is exact."""
    exact = defaultdict(set)
    labels = []
    for cid, label, synonym in dictionary:
        lab, syn = normalize(label), normalize(synonym)
        exact[lab].add(("skos:exactMatch", cid))
        exact[syn].add(("skos:closeMatch", cid))
        labels.append((cid, lab, len(trigrams(lab))))
    index = defaultdict(list)
    for i, (_, lab, _) in enumerate(labels):
        for g in trigrams(lab):
            index[g].append(i)
    all_mentions = set()
    for t in texts:
        all_mentions |= mentions(t)
    triples = set()
    for m in all_mentions:
        for p, cid in exact.get(m, ()):
            triples.add((m, p, cid))
        if " " in m and len(m) >= 7:
            grams = trigrams(m)
            shared = Counter(i for g in grams for i in index.get(g, ()))
            for i, n in shared.items():
                cid, lab, size = labels[i]
                if m != lab and n / (len(grams) + size - n) >= threshold:
                    triples.add((m, "skos:closeMatch", cid))
    return triples


def kg_precision_recall(kg, seed, sample=2000):
    """P/R of the (mention, predicate, concept) triples in graft's edge table
    against `link_reference`, over the distinct mentions of a seeded sample
    of `sample` turn texts: graft's triples whose mention is one of them
    against the reference's triples for them."""
    import duckdb
    import random
    from . import stats
    with open(kg["dictionary"], encoding="utf-8") as f:
        dictionary = [json.loads(line) for line in f]
    with open(kg["texts"], encoding="utf-8") as f:
        texts = [json.loads(line) for line in f]
    texts = random.Random(seed).sample(texts, min(sample, len(texts)))
    sampled = set().union(*(mentions(t) for t in texts))
    ref = link_reference(texts, dictionary)
    rows = duckdb.connect().execute(
        "SELECT DISTINCT subject_id, predicate_id, object_id FROM read_parquet(?)",
        [kg["edges"] + "/**/*.parquet"]).fetchall()
    got = {(s[len("txt:"):].replace("_", " "), p, o) for s, p, o in rows}
    got = {t for t in got if t[0] in sampled}
    p, r = stats.precision_recall(got, ref)
    return p, r, len(got), len(ref)


# -------------------------------------------------------- near duplicates

def shingles(text, k):
    """Distinct word k-grams of a text: lower-cased, split on whitespace;
    a text of fewer than k words is one shingle."""
    toks = text.lower().split()
    if not toks:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def near_dup_pairs(texts, k=3, threshold=0.5):
    """Every pair (a, b), a < b, of `texts` (doc_id -> text) whose word
    k-gram Jaccard reaches `threshold`. Each document is scored against
    every other that shares a shingle with it, counted through an inverted
    index, so |A & B| is exact."""
    sets = {d: shingles(t, k) for d, t in texts.items()}
    index = defaultdict(list)
    for d, s in sets.items():
        for g in s:
            index[g].append(d)
    pairs = set()
    for a, s in sets.items():
        shared = Counter(b for g in s for b in index[g] if b > a)
        for b, n in shared.items():
            if n / (len(s) + len(sets[b]) - n) >= threshold:
                pairs.add((a, b))
    return pairs


def contaminated(texts, bench_texts, k=8):
    """The documents of `texts` (doc_id -> text) sharing a word k-gram with
    any of `bench_texts`."""
    bench = set().union(*(shingles(t, k) for t in bench_texts))
    return {d for d, t in texts.items() if shingles(t, k) & bench}


def components(pairs):
    """Connected components of an edge list: node -> minimum member."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}
