"""Seeded input generator for the perfbench workloads.

Every workload gets a directory of line-delimited JSON inputs plus a
`truth.json` holding the ground truth the output checks compare against:
the planted label rule (cfpb_ml); and for corpus_curation the planted
duplicate clusters, the exact top-10 neighbours of a query sample, every
(late batch doc, corpus doc) pair whose token-set Jaccard reaches the
threshold, and the corpus docs that contain a lookup excerpt.

The same seed and sizes always give byte-identical files: all randomness
comes from one numpy Generator seeded from (workload, seed), floats are
written as float32 values with 9 significant digits, and JSON keys are
emitted in a fixed order.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir> [--tiny]
"""
import json
import os
import sys
import zlib

import numpy as np

WORKLOADS = ("cfpb_ml", "corpus_curation")

# Sizes used by the benchmark; TINY keeps the self-tests fast.
SIZES = {
    "cfpb_ml": {"rows": 2000},
    "corpus_curation": {"originals": 2000, "queries": 64},
}
TINY = {
    "cfpb_ml": {"rows": 400},
    "corpus_curation": {"originals": 300, "queries": 8},
}

DIM = 64
VOCAB = 10000
ZIPF_S = 1.07
# The stopwords graft.ops.TextOps scores, placed at the head of the Zipf
# ranking so stopword ratios look like English text.
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
             "on", "with", "as", "at", "by", "be", "this", "that", "are", "was"]
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]

RESPONSES = [
    "Closed with explanation", "Closed with non-monetary relief",
    "In progress", "Closed with monetary relief", "Closed without relief",
    "Closed", "Untimely response", "Closed with relief"]
PRODUCTS = [
    "Credit reporting", "Debt collection", "Mortgage", "Credit card",
    "Checking or savings account", "Student loan", "Vehicle loan or lease",
    "Money transfer"]
STATES = ["AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI",
          "ID", "IL", "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI",
          "MN", "MS", "MO", "MT", "NE", "NV", "NH", "NJ", "NM", "NY", "NC",
          "ND", "OH", "OK", "OR", "PA", "RI", "SC", "SD", "TN", "TX", "UT",
          "VT", "VA", "WA", "WV", "WI", "WY"]
CHANNELS = ["Web", "Referral", "Phone", "Postal mail", "Fax", "Email"]

# The planted label rule of cfpb_ml: company_response is a function of the
# product for all but NOISE of the rows, where it is drawn uniformly.
LABEL_NOISE = 0.10
ACCURACY_FLOOR = 0.75
# Near-duplicate variants substitute this share of an original's tokens,
# which keeps their token-set Jaccard to the original near 0.85.
EDIT_RATE = 0.06
JACCARD_THRESHOLD = 0.7
# Pairs at or above this Jaccard collide in some MinHash band with
# probability above 0.999 (20 bands of 5 rows), so the incremental
# admission must find every one of them.
MUST_FIND_JACCARD = 0.8
# The late batch admitted against the corpus: every other doc is a
# near-duplicate of a corpus doc, the rest are new.
BATCH_DOCS = 16
BATCH_FIRST_ID = 10000000
# The near-dup lookup: an excerpt of a corpus doc, and the share of its
# distinct tokens a corpus doc must contain to be a hit.
EXCERPT_TOKENS = 15
CONTAINMENT = 0.8
# Point kNN probes: this many of the query sample, each answered by a
# brute-force scan and by an IVF index probe.
PROBES = 2


def rng_for(workload, seed):
    return np.random.default_rng([zlib.crc32(workload.encode()), seed])


def word(i):
    """Pseudo-word for vocabulary rank i (0-based), stopwords first."""
    if i < len(STOPWORDS):
        return STOPWORDS[i]
    n, out = i, []
    while True:
        out.append(SYLLABLES[n % len(SYLLABLES)])
        n //= len(SYLLABLES)
        if n == 0:
            break
    return "".join(out) + ("n" if i % 3 == 0 else "")


def zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class Text:
    def __init__(self, rng):
        self.rng = rng
        self.words = [word(i) for i in range(VOCAB)]
        self.cdf = np.cumsum(zipf_probs(VOCAB, ZIPF_S))

    def ranks(self, n):
        return np.minimum(np.searchsorted(self.cdf, self.rng.random(n)),
                          VOCAB - 1)

    def doc(self, lo=40, hi=68):
        return [self.words[r] for r in self.ranks(int(self.rng.integers(lo, hi + 1)))]

    def near_dup(self, toks):
        """Copy of toks with EDIT_RATE of the positions replaced by
        rare words, so the token set really changes."""
        out = list(toks)
        n_edit = max(1, int(round(len(out) * EDIT_RATE)))
        for pos in self.rng.choice(len(out), size=n_edit, replace=False):
            out[pos] = self.words[int(self.rng.integers(VOCAB // 2, VOCAB))]
        return out


def f32(x):
    return "%.9g" % x


def vec_json(v):
    return "[" + ",".join(f32(x) for x in v) + "]"


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=True)


def write_lines(path, lines):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for line in lines:
            f.write(line)
            f.write("\n")


def write_truth(out_dir, truth):
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as f:
        f.write(dumps(truth))
        f.write("\n")


def embeddings(rng, n, n_centroids=48, noise=0.35):
    """Clustered float32 embeddings: a random centroid plus noise."""
    cents = rng.standard_normal((n_centroids, DIM))
    assign = rng.integers(0, n_centroids, size=n)
    return (cents[assign] + noise * rng.standard_normal((n, DIM))).astype(np.float32)


def exact_topk(corpus_ids, corpus_vecs, query_ids, query_vecs, k=10):
    """Exact cosine top-k (float64 arithmetic on the float32 values, as
    graft.ops.VectorOps computes it); a query never returns itself;
    ties break on the smaller id."""
    c = corpus_vecs.astype(np.float64)
    c = c / np.linalg.norm(c, axis=1, keepdims=True)
    q = query_vecs.astype(np.float64)
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    ids = np.asarray(corpus_ids)
    out = []
    for i, qid in enumerate(query_ids):
        s = np.where(ids == qid, -np.inf, sims[i])
        order = np.lexsort((ids, -s))[:k]
        out.append([int(x) for x in ids[order]])
    return out


def gen_cfpb_ml(rng, out_dir, rows):
    text = Text(rng)
    n_companies = 7000
    companies = ["%s %s" % (word(100 + i).capitalize(),
                            ("Bank", "Financial", "Servicing", "Inc", "LLC")[i % 5])
                 for i in range(n_companies)]
    company_cdf = np.cumsum(zipf_probs(n_companies, 1.0))
    issues = ["%s %s %s" % (word(300 + 3 * i).capitalize(), word(301 + 3 * i),
                            word(302 + 3 * i)) for i in range(60)]
    issue_cdf = np.cumsum(zipf_probs(len(issues), 0.9))
    product_p = zipf_probs(len(PRODUCTS), 0.6)
    class_of_product = list(range(len(RESPONSES)))
    topic_words = [[word(500 + 40 * p + j) for j in range(40)]
                   for p in range(len(PRODUCTS))]

    lines = ["complaints export: seed-generated, line-delimited JSON"]
    corrupt, blank, valid = 1, 0, 0
    for i in range(rows):
        u = rng.random()
        if u < 0.004:
            lines.append("")
            blank += 1
            continue
        if u < 0.010:
            lines.append('{"complaint_id": "%d", "company": "broken' % (3000000 + i))
            corrupt += 1
            continue
        p = int(rng.choice(len(PRODUCTS), p=product_p))
        label = class_of_product[p] if rng.random() >= LABEL_NOISE \
            else int(rng.integers(0, len(RESPONSES)))
        company = companies[int(np.searchsorted(company_cdf, rng.random()))]
        issue = issues[min(int(np.searchsorted(issue_cdf, rng.random())), len(issues) - 1)]
        narrative = []
        for _ in range(int(rng.integers(25, 46))):
            v = rng.random()
            if v < 0.05:
                narrative.append("XXXX")
            elif v < 0.55:
                narrative.append(topic_words[p][int(rng.integers(0, 40))])
            else:
                narrative.append(text.words[int(text.ranks(1)[0])])
        day = int(rng.integers(0, 9 * 365))
        received = np.datetime64("2015-01-01") + np.timedelta64(day, "D")
        sent = received + np.timedelta64(int(rng.integers(0, 15)), "D")
        t = rng.random()
        timely = "Yes" if t < 0.96 else ("No" if t < 0.99 else "")
        row = {
            "company": company,
            "company_public_response": "Company has responded to the consumer",
            "company_response": RESPONSES[label],
            "complaint_id": str(2000000 + i),
            "complaint_what_happened": " ".join(narrative) + ".",
            "consumer_consent_provided": "Consent provided",
            "consumer_disputed": "No" if rng.random() < 0.8 else "Yes",
            "date_received": "%sT00:00:00" % received,
            "date_sent_to_company": "%sT00:00:00" % sent,
            "issue": issue,
            "product": PRODUCTS[p],
            "state": STATES[int(rng.integers(0, len(STATES)))],
            "sub_issue": "" if rng.random() < 0.1 else issue + " detail",
            "sub_product": "" if rng.random() < 0.1 else PRODUCTS[p] + " general",
            "submitted_via": CHANNELS[int(rng.integers(0, len(CHANNELS)))],
            "tags": "",
            "timely": timely,
            "zip_code": "%05d" % int(rng.integers(0, 100000)),
        }
        lines.append(dumps(row))
        valid += 1
    write_lines(os.path.join(out_dir, "complaints.json"), lines)
    write_truth(out_dir, {
        "rows": valid, "corrupt_lines": corrupt, "blank_lines": blank,
        "classes": RESPONSES,
        "label_rule": {PRODUCTS[p]: RESPONSES[c] for p, c in enumerate(class_of_product)},
        "label_noise": LABEL_NOISE, "accuracy_floor": ACCURACY_FLOOR})


def planted_corpus(rng, text, originals, first_id):
    """Originals plus planted exact copies and near-duplicate variants.
    Returns (docs, clusters): docs as (id, tokens, source_index), ids
    shuffled so duplicates interleave with originals; clusters as sorted
    id lists of every planted group of size >= 2."""
    items = []
    for o in range(originals):
        toks = text.doc()
        items.append((toks, o))
        u = rng.random()
        if u < 0.10:
            for _ in range(int(rng.integers(1, 3))):
                items.append((list(toks), o))
        elif u < 0.20:
            for _ in range(int(rng.integers(1, 3))):
                items.append((text.near_dup(toks), o))
        elif u < 0.25:
            items.append((list(toks), o))
            items.append((text.near_dup(toks), o))
    ids = first_id + rng.permutation(len(items))
    docs = [(int(ids[i]), toks, src) for i, (toks, src) in enumerate(items)]
    groups = {}
    for did, _, src in docs:
        groups.setdefault(src, []).append(did)
    clusters = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    return sorted(docs), clusters


def gen_corpus_curation(rng, out_dir, originals, queries):
    text = Text(rng)
    docs, clusters = planted_corpus(rng, text, originals, first_id=1)
    base_vecs = embeddings(rng, originals)
    vecs = np.stack([base_vecs[src] + (0.01 * rng.standard_normal(DIM)
                                       if i % 2 else 0.0)
                     for i, (_, _, src) in enumerate(docs)]).astype(np.float32)
    lines = [dumps({"doc_id": did, "text": " ".join(toks)})[:-1]
             + ',"embedding":' + vec_json(vecs[i]) + "}"
             for i, (did, toks, _) in enumerate(docs)]
    write_lines(os.path.join(out_dir, "corpus.jsonl"), lines)
    # the survivors a perfect curation pass keeps: one per planted cluster
    # (its smallest id) plus every unduplicated doc
    dup_ids = {d for c in clusters for d in c[1:]}
    keep = [i for i, (did, _, _) in enumerate(docs) if did not in dup_ids]
    keep_ids = [docs[i][0] for i in keep]
    q_idx = sorted(rng.choice(len(keep), size=queries, replace=False))
    q_ids = [keep_ids[i] for i in q_idx]
    topk = exact_topk(keep_ids, vecs[keep], q_ids, vecs[[keep[i] for i in q_idx]])
    # a late batch, and every (batch, corpus) pair at or above the threshold
    sets = [(did, set(toks)) for did, toks, _ in docs]
    batch = []
    for j in range(BATCH_DOCS):
        toks = text.near_dup(docs[int(rng.integers(0, len(docs)))][1]) if j % 2 == 0 \
            else text.doc()
        batch.append((BATCH_FIRST_ID + j, toks))
    pairs = []
    for bid, toks in batch:
        b = set(toks)
        for did, s in sets:
            inter = len(b & s)
            jac = inter / (len(b) + len(s) - inter)
            if jac >= JACCARD_THRESHOLD:
                pairs.append([bid, did, round(jac, 6)])
    write_lines(os.path.join(out_dir, "batch.jsonl"),
                [dumps({"doc_id": bid, "text": " ".join(toks)}) for bid, toks in batch])
    # a lookup excerpt and the corpus docs that contain enough of it, by
    # the rule of graft.ops.DedupOps.containmentHits
    src = docs[int(rng.integers(0, len(docs)))][1]
    start = int(rng.integers(0, len(src) - EXCERPT_TOKENS + 1))
    excerpt = src[start:start + EXCERPT_TOKENS]
    e = set(excerpt)
    hits = [did for did, s in sets if len(e & s) >= len(e) * CONTAINMENT - 1e-9]
    write_truth(out_dir, {
        "docs": len(docs), "clusters": clusters, "survivors": len(keep_ids),
        "jaccard_threshold": JACCARD_THRESHOLD,
        "queries": q_ids, "topk": topk, "probes": q_ids[:PROBES],
        "batch_pairs": pairs, "must_find_jaccard": MUST_FIND_JACCARD,
        "lookup": {"text": " ".join(excerpt), "containment": CONTAINMENT, "hits": hits},
        "dedup_recall_floor": 0.95, "dedup_precision_floor": 0.95,
        "knn_recall_floor": 0.95, "ivf_recall_floor": 0.8})


def generate(workload, seed, out_dir, tiny=False):
    if workload not in WORKLOADS:
        raise ValueError("unknown workload %r (expected one of %s)"
                         % (workload, ", ".join(WORKLOADS)))
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(workload, seed)
    sizes = (TINY if tiny else SIZES)[workload]
    {"cfpb_ml": gen_cfpb_ml, "corpus_curation": gen_corpus_curation}[workload](
        rng, out_dir, **sizes)


if __name__ == "__main__":
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], "--tiny" in sys.argv[4:])
