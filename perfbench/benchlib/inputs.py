"""Seeded input generators. The same seed gives the same files."""

import json
import os
import random
from collections import defaultdict

from .reference import reconcile

# ----------------------------------------------------------- SSSOM mappings

_PREDICATES = ["skos:exactMatch", "skos:closeMatch", "skos:broadMatch",
               "skos:narrowMatch"]
_COLUMNS = ["subject_id", "subject_label", "predicate_id", "object_id",
            "object_label", "mapping_justification", "confidence"]


def _header(set_id):
    return ("#curie_map:\n"
            '#  a: "http://example.org/a/"\n'
            '#  b: "http://example.org/b/"\n'
            '#  semapv: "https://w3id.org/semapv/vocab/"\n'
            '#  skos: "http://www.w3.org/2004/02/skos/core#"\n'
            '#license: "https://creativecommons.org/publicdomain/zero/1.0/"\n'
            f"#mapping_set_id: https://example.org/perfbench/{set_id}\n")


def _rows(rnd, groups, first):
    """Mapping rows over `groups` (subject, object) pairs. Each pair gets one
    to three predicates and each (pair, predicate) one to three rows at
    distinct confidences; in about one pair in ten two predicates tie on
    their best confidence, which the reconcile resolves by predicate rank."""
    rows = []
    for g in range(first, first + groups):
        s, o = f"a:S{g:06d}", f"b:O{(g * 7919) % 100003:06d}"
        preds = rnd.sample(_PREDICATES, rnd.randint(1, 3))
        tie = len(preds) > 1 and rnd.random() < 0.1
        top = round(rnd.uniform(0.5, 0.99), 6)
        for i, p in enumerate(preds):
            confs = set()
            best = top if tie and i < 2 else round(rnd.uniform(0.5, 0.99), 6)
            confs.add(best)
            while len(confs) < rnd.randint(1, 3):
                c = round(rnd.uniform(0.1, best), 6)
                if c < best:
                    confs.add(c)
            for c in sorted(confs):
                rows.append((s, f"subject {g}", p, o, f"object {g}",
                             "semapv:LexicalMatching", c))
    return rows


def _write_tsv(path, set_id, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(_header(set_id))
        f.write("\t".join(_COLUMNS) + "\n")
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def sssom(directory, seed, groups=1500):
    """Two mid-size SSSOM TSVs (mid_a, mid_b) and the row counts the CLI
    must produce from them (expected.json). mid_b repeats a third of mid_a's
    rows verbatim, adds rows at other confidences to some of mid_a's
    (subject, predicate, object) groups, and has pairs of its own."""
    rnd = random.Random(seed)
    a = _rows(rnd, groups, 0)
    b = rnd.sample(a, len(a) // 3)
    confs = defaultdict(set)
    for r in a:
        confs[r[:4]].add(r[6])
    for r in rnd.sample(a, len(a) // 5):
        c = round(rnd.uniform(0.1, 0.99), 6)
        if c not in confs[r[:4]]:
            b.append(r[:6] + (c,))
    b += _rows(rnd, groups // 2, groups)
    b = list(dict.fromkeys(b))
    _write_tsv(os.path.join(directory, "mid_a.tsv"), "mid_a", a)
    _write_tsv(os.path.join(directory, "mid_b.tsv"), "mid_b", b)
    expected = {
        "mid_a_rows": len(a),
        "dedupe_rows": len(reconcile(a)),
        "merge_rows": len(reconcile(list(dict.fromkeys(a + b)))),
    }
    with open(os.path.join(directory, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected


# --------------------------------------------------------------- documents

STOP = ["the", "of", "and", "to", "with"]


def _vocabulary(rnd, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        w = "".join(rnd.choice(letters) for _ in range(rnd.randint(4, 9)))
        if w not in STOP:
            words.add(w)
    return sorted(words)


def _prose(rnd, vocab, n):
    """n random words with a stop word before about one in six; always
    holds "the" and "of", so the Gopher stop-word rule passes."""
    out = ["the"]
    for i in range(n):
        if rnd.random() < 0.17:
            out.append(rnd.choice(STOP))
        out.append(rnd.choice(vocab))
    out.insert(len(out) // 2, "of")
    return out


def _edit(rnd, vocab, words, n_subs, protect=()):
    """A copy of `words` with `n_subs` words replaced, outside `protect`."""
    w = list(words)
    spots = [i for i in range(len(w)) if i not in protect]
    for i in rnd.sample(spots, n_subs):
        w[i] = rnd.choice(vocab)
    return w


def documents(directory, seed, n_base=1200):
    """A document corpus with planted curation outcomes, a held-out
    benchmark set, and what `Curation.curate` must decide for every
    document (expected_docs.json).

    Base documents are random prose over a seeded vocabulary of pseudo-
    words, so no two of them share a word 3-gram by more than chance.
    Planted on top, each with a higher doc_id than the document it copies:
    exact copies in other case and spacing (exact_dup); documents under 50
    words or full of '#' (quality); documents repeating a 10-word phrase
    (repetition); documents holding an 8-word span of a benchmark
    document (contaminated); copies with a few words replaced, some of them
    copies of copies (near_dup); and near-copies of contaminated documents
    that break the shared span, which stay `kept` because their only
    near-duplicate was dropped at an earlier stage.

    The near-duplicate pairs and the stage-5 clusters are not planted but
    computed: `reference.near_dup_pairs` over every pair of documents that
    share a 3-gram, then union-find over the survivors of stages 1-4."""
    from .reference import components, contaminated, near_dup_pairs
    rnd = random.Random(seed)
    vocab = _vocabulary(rnd, 6000)
    docs, planted = [], {}

    def add(words, decision):
        doc_id = (docs[-1][0] if docs else 0) + rnd.randint(1, 3)
        docs.append((doc_id, " ".join(words) if isinstance(words, list) else words))
        planted[doc_id] = decision
        return doc_id

    bench = [_prose(rnd, vocab, rnd.randint(60, 90)) for _ in range(40)]
    base = []
    for _ in range(n_base):
        w = _prose(rnd, vocab, rnd.randint(70, 130))
        base.append((add(w, "kept"), w))
    for doc_id, w in rnd.sample(base, n_base // 16):
        text = "  " + "  ".join(x.upper() if rnd.random() < 0.5 else x for x in w) + " "
        add(text, "exact_dup")
    for _ in range(n_base // 20):
        add(_prose(rnd, vocab, rnd.randint(15, 40))[:45], "quality")
    for _ in range(n_base // 40):
        w = _prose(rnd, vocab, rnd.randint(70, 100))
        add(["#" + x if i % 4 == 0 else x for i, x in enumerate(w)], "quality")
    for _ in range(n_base // 20):
        w = _prose(rnd, vocab, rnd.randint(60, 80))
        phrase = rnd.sample(vocab, 10)
        for _ in range(3):
            at = rnd.randrange(len(w))
            w[at:at] = phrase
        add(w, "repetition")
    with_span = []
    for _ in range(n_base // 20):
        w = _prose(rnd, vocab, rnd.randint(80, 120))
        b = rnd.choice(bench)
        start = rnd.randrange(len(b) - 8)
        at = rnd.randrange(len(w))
        w[at:at] = b[start:start + 8]
        with_span.append((add(w, "contaminated"), w, at))
    for _, w, at in rnd.sample(with_span, len(with_span) // 3):
        copy = _edit(rnd, vocab, w, 3, protect=range(at, at + 8))
        copy[at + 3] = rnd.choice(vocab)
        add(copy, "kept")
    for _, w in rnd.sample(base, n_base // 8):
        copy = _edit(rnd, vocab, w, rnd.randint(2, 5))
        add(copy, "near_dup")
        if rnd.random() < 0.3:
            add(_edit(rnd, vocab, copy, rnd.randint(2, 5)), "near_dup")

    texts = dict(docs)
    pairs = near_dup_pairs(texts, k=3, threshold=0.5)
    early = {d for d, p in planted.items() if p not in ("kept", "near_dup")}
    labels = components([(a, b) for a, b in pairs
                         if a not in early and b not in early])
    decisions = {d: (planted[d] if d in early else
                     "near_dup" if labels.get(d, d) != d else "kept")
                 for d in texts}
    bench_texts = [" ".join(w) for w in bench]
    flagged = contaminated(texts, bench_texts, k=8)
    if decisions != planted or flagged != {d for d, p in planted.items()
                                           if p == "contaminated"}:
        bad = sorted(d for d in texts if decisions[d] != planted[d])[:5]
        raise RuntimeError(f"document generator: planted outcomes not met at {bad}")
    all_labels = components(pairs)
    with open(os.path.join(directory, "docs.jsonl"), "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    with open(os.path.join(directory, "bench.jsonl"), "w") as f:
        for i, t in enumerate(bench_texts):
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    expected = {
        "decisions": [[d, decisions[d]] for d, _ in docs],
        "pairs": sorted(pairs),
        # documents nearDupDedup drops: not the minimum of their cluster
        "dedup_dropped": sorted(d for d, c in all_labels.items() if c != d),
        "contaminated": sorted(flagged),
    }
    with open(os.path.join(directory, "expected_docs.json"), "w") as f:
        json.dump(expected, f)
    return expected
