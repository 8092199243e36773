"""Seeded input generators for the four benchmark workloads.

Each generator writes parquet inputs under ``<run>/input`` and returns the
planted truth the output checks compare against.  Everything is a pure
function of the seed, except the AnnIndex shard of the known failure, which
is the same on every seed.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "or"]
# Latin-1 words: their UTF-8 -> Latin-1 misdecode is what the mojibake
# repair reverses; clean text never carries the misdecode's lead chars.
ACCENTED = ["café", "naïve", "münchen", "señor", "façade",
            "résumé", "déjà", "über", "coöp", "piñata"]
MOJIBAKE_MARKS = ("Ã", "Â")
DAY_US = 86400 * 1000000
NOW_US = 1_717_200_000_000_000  # the clock every tick runs at

# interest categories and their keywords, as the program's categorizer
# scores them (space-split tokens; argmax count, alphabetical tie-break)
CATEGORIES = {
    "performance": ["fast", "slow", "vector"],
    "query_exec": ["scan", "filter", "join"],
    "storage": ["table", "column", "row"],
    "streaming": ["stream", "batch", "window"],
}
# (winner keyword count, runner-up keyword count): confidences that are
# exact binary fractions, distinct per category, so averages and the
# per-parent argmax are exact
CATEGORY_MIX = {"performance": (4, 0), "query_exec": (3, 1),
                "storage": (7, 1), "streaming": (5, 3)}
TAXONOMY = {"performance": "engine", "query_exec": "engine",
            "storage": "data", "streaming": "data"}


def vocabulary(rng, n=6000):
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randint(2, 4)
        w = "".join(rng.choice(letters) + rng.choice(vowels) for _ in range(k))
        if rng.random() < 0.3:
            w += rng.choice(letters)
        words.add(w)
    words -= set(STOPWORDS)
    for kws in CATEGORIES.values():
        words -= set(kws)
    return sorted(words)


def prose(rng, vocab, n_words, accented=0):
    toks = ["the"]  # every page passes the stopword quality rule
    for i in range(n_words - 1):
        r = rng.random()
        toks.append(rng.choice(STOPWORDS) if r < 0.2 else rng.choice(vocab))
    for _ in range(accented):
        toks[rng.randrange(1, n_words)] = rng.choice(ACCENTED)
    return " ".join(toks)


def near_copy(rng, vocab, text, n_changes=2):
    toks = text.split(" ")
    for _ in range(n_changes):
        toks[rng.randrange(len(toks))] = rng.choice(vocab)
    return " ".join(toks)


def mojibake(text):
    return text.encode("utf-8").decode("latin-1")


def page(doc_id, text, boiler=0):
    nav = ('<div id="nav"><a href="/">Home</a> <a href="/about">About</a> '
           '<a href="/contact">Contact</a></div>')
    extra = "".join('<div class="menu"><a href="/m%d">Menu item %d</a></div>' % (i, i)
                    for i in range(boiler))
    foot = ('<div id="footer">(c) 2024 <a href="/terms">Terms</a> '
            '<a href="/privacy">Privacy</a><script>track();</script></div>')
    return ("<html><head><title>Doc %d</title><style>p{margin:0}</style>"
            "<script>var a=1;</script></head><body>%s%s<div id=\"main\"><p>%s</p></div>%s"
            "</body></html>") % (doc_id, nav, extra, text, foot)


def warc_record(doc_id, html):
    payload = html.encode("utf-8")
    head = ("WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: https://example.org/doc/%d\r\n"
            "WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Type: text/html\r\n"
            "Content-Length: %d\r\n\r\n") % (doc_id, len(payload))
    return head.encode("utf-8") + payload + b"\r\n\r\n"


def write(path, columns):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)


def vectors(rows):
    """array<float> column, the embeddings-table shape."""
    return pa.array([r.tolist() for r in rows], pa.list_(pa.float32()))


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


# ---------------------------------------------------------------- social_graph

def gen_social_graph(seed, inp, n_users=6000, avg_follows=12, reciprocal=0.3):
    rng = random.Random(seed)
    nprng = np.random.default_rng(seed)
    vocab = vocabulary(rng, 800)
    uids = np.arange(1, n_users + 1, dtype=np.int64)
    names = ["u%06d" % u for u in uids]
    # accounts' bios plant one interest category each (a quarter carry none)
    cats = sorted(CATEGORIES)
    bio_cat = {}
    bios = []
    for u in uids:
        r = rng.random()
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 9))]
        if r < 0.75:
            c = cats[int(r / 0.75 * 4) % 4]
            win, lose = CATEGORY_MIX[c]
            other = cats[(cats.index(c) + 1) % 4]
            words += [rng.choice(CATEGORIES[c]) for _ in range(win)]
            words += [rng.choice(CATEGORIES[other]) for _ in range(lose)]
            bio_cat[int(u)] = c
        rng.shuffle(words)
        bios.append(" ".join(words))
    base_ts = NOW_US - 30 * DAY_US
    ts = base_ts + nprng.integers(0, 10 * DAY_US, n_users)
    users = {
        "user_id": uids, "username": names,
        "full_name": ["User %d" % u for u in uids], "bio": bios,
        "follower_count": nprng.integers(0, 5000, n_users),
        "following_count": nprng.integers(0, 5000, n_users),
        "is_private": nprng.random(n_users) < 0.1,
        "last_updated_us": ts.astype(np.int64),
    }
    write(os.path.join(inp, "users.parquet"), users)
    # incoming: refreshed profiles (newer), stale replays (older), new users
    upd = nprng.choice(uids, n_users // 5, replace=False)
    stale = nprng.choice(np.setdiff1d(uids, upd), n_users // 20, replace=False)
    new = np.arange(n_users + 1, n_users + 1 + n_users // 20, dtype=np.int64)
    inc_ids = np.concatenate([upd, stale, new])
    old_ts = dict(zip(uids.tolist(), ts.tolist()))
    inc_ts = ([old_ts[int(u)] + 1000 + int(nprng.integers(0, DAY_US)) for u in upd] +
              [old_ts[int(u)] - 1000 - int(nprng.integers(0, DAY_US)) for u in stale] +
              [NOW_US - int(nprng.integers(0, DAY_US)) for _ in new])
    incoming = {
        "user_id": inc_ids, "username": ["u%06d" % u for u in inc_ids],
        "full_name": ["User %d v2" % u for u in inc_ids],
        "bio": ["refreshed bio %d" % u for u in inc_ids],
        "follower_count": nprng.integers(0, 5000, len(inc_ids)),
        "following_count": nprng.integers(0, 5000, len(inc_ids)),
        "is_private": nprng.random(len(inc_ids)) < 0.1,
        "last_updated_us": np.array(inc_ts, dtype=np.int64),
    }
    write(os.path.join(inp, "users_incoming.parquet"), incoming)
    # follow edges a -> b, with a planted reciprocal share
    m = n_users * avg_follows
    a = nprng.integers(1, n_users + 1, m)
    b = nprng.integers(1, n_users + 1, m)
    keep = a != b
    a, b = a[keep], b[keep]
    k = int(len(a) * reciprocal)
    a = np.concatenate([a, b[:k]])
    b = np.concatenate([b, a[:k]])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    a, b = pairs[:, 0].astype(np.int64), pairs[:, 1].astype(np.int64)
    write(os.path.join(inp, "following.parquet"), {"user_id": a, "other_id": b})
    write(os.path.join(inp, "followers.parquet"), {"user_id": b, "other_id": a})
    write(os.path.join(inp, "account_docs.parquet"),
          {"doc_id": uids, "text": bios})
    # scrape jobs: three per target, a spread of states and start times
    n_targets = n_users // 4
    targets = nprng.choice(uids, n_targets, replace=False)
    job_rows = {k2: [] for k2 in ["job_id", "target_username", "job_type", "status",
                                  "started_at_us", "completed_at_us", "total_items",
                                  "processed_items"]}
    jid = 0
    for t in targets:
        age = int(nprng.integers(0, 14 * DAY_US))
        for jt in ("profile", "followers", "following"):
            jid += 1
            st = ["pending", "completed", "failed", "running"][int(nprng.integers(0, 4))]
            job_rows["job_id"].append(jid)
            job_rows["target_username"].append("u%06d" % t)
            job_rows["job_type"].append(jt)
            job_rows["status"].append(st)
            job_rows["started_at_us"].append(NOW_US - age)
            job_rows["completed_at_us"].append(NOW_US - age // 2 if st == "completed" else None)
            tot = int(nprng.integers(10, 500))
            job_rows["total_items"].append(tot)
            job_rows["processed_items"].append(tot if st == "completed" else int(nprng.integers(0, tot)))
    jobs = pa.table({
        "job_id": pa.array(job_rows["job_id"], pa.int64()),
        "target_username": pa.array(job_rows["target_username"], pa.string()),
        "job_type": pa.array(job_rows["job_type"], pa.string()),
        "status": pa.array(job_rows["status"], pa.string()),
        "started_at_us": pa.array(job_rows["started_at_us"], pa.int64()),
        "completed_at_us": pa.array(job_rows["completed_at_us"], pa.int64()),
        "total_items": pa.array(job_rows["total_items"], pa.int64()),
        "processed_items": pa.array(job_rows["processed_items"], pa.int64()),
    })
    pq.write_table(jobs, os.path.join(inp, "jobs.parquet"))
    # targets to schedule: half already have jobs, half are new
    sched = np.concatenate([targets[: n_targets // 2],
                            nprng.choice(np.setdiff1d(uids, targets), n_targets // 2,
                                         replace=False)])
    write(os.path.join(inp, "targets.parquet"),
          {"target_username": ["u%06d" % t for t in sched]})
    # users that already carry interests rows
    have = nprng.choice(uids, n_users // 3, replace=False)
    write(os.path.join(inp, "interests.parquet"),
          {"user_id": have, "category": ["storage"] * len(have),
           "confidence": np.full(len(have), 0.5)})
    # job updates: a quarter of jobs change state
    upd_jobs = np.sort(nprng.choice(np.arange(1, jid + 1), jid // 4, replace=False))
    write(os.path.join(inp, "job_updates.parquet"), {
        "job_id": upd_jobs.astype(np.int64),
        "status": [["completed", "failed"][int(x)] for x in nprng.integers(0, 2, len(upd_jobs))],
        "processed_items": nprng.integers(0, 500, len(upd_jobs)).astype(np.int64),
    })
    truth = {"bio_category": {str(k2): v for k2, v in bio_cat.items()},
             "mix": CATEGORY_MIX, "taxonomy": TAXONOMY, "now_us": NOW_US,
             "n_edges": int(len(a)), "n_users": n_users}
    write_json(os.path.join(inp, "truth.json"), truth)
    return {"users": n_users, "follow_edges": int(len(a)), "jobs": jid,
            "incoming": int(len(inc_ids))}


# -------------------------------------------------------------- crawl_curation

def gen_crawl_curation(seed, inp, n_docs=1600):
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    docs = []          # (doc_id, html)
    truth = {"exact_groups": [], "near_groups": [], "eval_pages": [],
             "mojibake_pages": [], "boiler_pages": [], "ids": []}
    evals = [prose(rng, vocab, 40) for _ in range(12)]
    did = 0

    def add(text, boiler=0):
        nonlocal did
        did += 1
        docs.append((did, page(did, text, boiler)))
        truth["ids"].append(did)
        return did

    while did < n_docs:
        r = rng.random()
        base = prose(rng, vocab, rng.randint(40, 90), accented=rng.randint(0, 2))
        if r < 0.08:      # exact duplicate group, 2-4 copies under new ids
            g = [add(base, rng.randint(0, 2)) for _ in range(rng.randint(2, 4))]
            truth["exact_groups"].append(g)
        elif r < 0.14:    # near-duplicate group
            g = [add(base)] + [add(near_copy(rng, vocab, base)) for _ in range(rng.randint(1, 2))]
            truth["near_groups"].append(g)
        elif r < 0.19:    # mojibake-damaged page, with its clean twin elsewhere
            t = base if any(a in base for a in ACCENTED) else base + " " + rng.choice(ACCENTED)
            truth["mojibake_pages"].append(add(mojibake(t)))
        elif r < 0.22:    # registered eval document embedded in a page
            ev = rng.choice(evals)
            truth["eval_pages"].append(add(prose(rng, vocab, 20) + " " + ev))
        elif r < 0.30:    # boilerplate-heavy page
            truth["boiler_pages"].append(add(base, boiler=6))
        else:
            add(base)
    blobs, fid = [], 0
    for i in range(0, len(docs), 8):
        fid += 1
        blobs.append((fid, b"".join(warc_record(d, h) for d, h in docs[i:i + 8])))
    write(os.path.join(inp, "warc.parquet"), {
        "file_id": pa.array([b[0] for b in blobs], pa.int64()),
        "blob": pa.array([b[1] for b in blobs], pa.binary())})
    write(os.path.join(inp, "evals.parquet"),
          {"doc_id": np.arange(1, len(evals) + 1, dtype=np.int64), "text": evals})
    target = sorted(rng.sample(truth["ids"], len(truth["ids"]) // 10))
    write(os.path.join(inp, "target_ids.parquet"), {"doc_id": np.array(target, dtype=np.int64)})
    write_json(os.path.join(inp, "truth.json"), truth)
    return {"pages": len(docs), "warc_blobs": len(blobs),
            "exact_groups": len(truth["exact_groups"]), "near_groups": len(truth["near_groups"]),
            "mojibake_pages": len(truth["mojibake_pages"]),
            "eval_pages": len(truth["eval_pages"]), "eval_docs": len(evals)}


# -------------------------------------------------------------- text_admission

def gen_text_admission(seed, inp, n_seed=600, n_batches=12, batch_novel=40,
                       batch_recrawl=12, batch_near=6, batch_eval=4, n_probe=40,
                       takedown=4):
    """Seed corpus plus a schedule of admission rounds.

    Rounds count from 1. Round r admits batch r, retracts `takedown` pages
    (seed pages in round 1, pages round r-1 admitted after that), then
    serves a probe batch: fixed re-crawls of seed pages and unrelated
    pages, the texts just retracted, and the other texts round r-1
    admitted. Takedown candidates are never re-crawled or near-copied, so
    a retracted text has no other indexed twin.
    """
    rng = random.Random(seed)
    vocab = vocabulary(rng)
    evals = [prose(rng, vocab, 40) for _ in range(10)]
    seed_docs = [(i + 1, prose(rng, vocab, rng.randint(40, 90))) for i in range(n_seed)]
    text_of = dict(seed_docs)
    retractable = [d for d, _ in seed_docs[-takedown:]]
    copyable = [d for d, _ in seed_docs[:-takedown]]
    next_id = 10_000_000
    batches = []       # (round, doc_id, html, kind, source_id)
    takedowns = []     # (round, doc_id)
    probes = []        # (round, doc_id, text, tag, source_id); round -1: every round
    for i in range(n_probe // 2):
        src = rng.choice(copyable)
        probes.append((-1, 20_000_000 + i, text_of[src], "recrawl", src))
    for i in range(n_probe - n_probe // 2):
        probes.append((-1, 20_000_000 + n_probe // 2 + i, prose(rng, vocab, 50), "unrelated", -1))
    admitted_prev = []
    pid = 30_000_000
    for b in range(1, n_batches + 1):
        rows, novel = [], []
        for _ in range(batch_novel):
            next_id += 1
            text_of[next_id] = prose(rng, vocab, rng.randint(40, 90))
            rows.append((next_id, page(next_id, text_of[next_id], rng.randint(0, 2)), "novel", -1))
            novel.append(next_id)
        for _ in range(batch_recrawl):
            src = rng.choice(copyable)
            next_id += 1
            rows.append((next_id, page(next_id, text_of[src], rng.randint(0, 2)), "recrawl", src))
        for _ in range(batch_near):
            src = rng.choice(copyable)
            next_id += 1
            rows.append((next_id, page(next_id, near_copy(rng, vocab, text_of[src]), 0), "near", src))
        for _ in range(batch_eval):
            next_id += 1
            rows.append((next_id, page(next_id, prose(rng, vocab, 15) + " " + rng.choice(evals), 0),
                         "eval", -1))
        rng.shuffle(rows)
        batches.extend((b,) + r for r in rows)
        for d in retractable:
            takedowns.append((b, d))
            pid += 1
            probes.append((b, pid, text_of[d], "retracted", d))
        for d in admitted_prev:
            pid += 1
            probes.append((b, pid, text_of[d], "admitted", d))
        copyable.extend(novel[takedown:])
        retractable, admitted_prev = novel[:takedown], novel[takedown:]
    write(os.path.join(inp, "seed.parquet"), {
        "doc_id": np.array([d for d, _ in seed_docs], dtype=np.int64),
        "text": [t for _, t in seed_docs]})
    write(os.path.join(inp, "evals.parquet"),
          {"doc_id": np.arange(1, len(evals) + 1, dtype=np.int64), "text": evals})
    write(os.path.join(inp, "batches.parquet"), {
        "round": np.array([x[0] for x in batches], dtype=np.int64),
        "doc_id": np.array([x[1] for x in batches], dtype=np.int64),
        "html": [x[2] for x in batches],
        "kind": [x[3] for x in batches],
        "source_id": np.array([x[4] for x in batches], dtype=np.int64)})
    write(os.path.join(inp, "takedowns.parquet"), {
        "round": np.array([t[0] for t in takedowns], dtype=np.int64),
        "doc_id": np.array([t[1] for t in takedowns], dtype=np.int64)})
    write(os.path.join(inp, "probes.parquet"), {
        "round": np.array([p[0] for p in probes], dtype=np.int64),
        "doc_id": np.array([p[1] for p in probes], dtype=np.int64),
        "text": [p[2] for p in probes],
        "tag": [p[3] for p in probes],
        "source_id": np.array([p[4] for p in probes], dtype=np.int64)})
    return {"seed_docs": n_seed, "rounds_available": n_batches,
            "batch_pages": batch_novel + batch_recrawl + batch_near + batch_eval,
            "batch_mix": {"novel": batch_novel, "recrawl": batch_recrawl,
                          "near": batch_near, "eval": batch_eval},
            "fixed_probe_pages": n_probe, "takedown_per_round": takedown}


# ------------------------------------------------------------ vector_admission

DIM = 64
# noise around the 24 centres: wide enough that distinct vectors rarely
# share a PQ code tuple, which the embedding loop treats as a duplicate
SPREAD = 1.5


def _unit_rows(nprng, centers, n, spread):
    c = centers[nprng.integers(0, len(centers), n)]
    v = c + spread * nprng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def gen_vector_admission(seed, inp, n_seed=1000, n_batches=12, batch_novel=48,
                         batch_copy=16, n_probe=32, takedown=4, shard=64):
    """Seed vectors plus a schedule of admission rounds, laid out like the
    text workload's: admit batch r, retract `takedown` vectors (seed
    vectors in round 1, vectors round r-1 admitted after that), serve the
    fixed probes (copies of seed vectors) and copies of the vectors just
    retracted.
    """
    nprng = np.random.default_rng(seed)
    centers = nprng.standard_normal((24, DIM))
    seed_vecs = _unit_rows(nprng, centers, n_seed, SPREAD)
    vec_of = {i: seed_vecs[i] for i in range(n_seed)}
    retractable = list(range(n_seed - takedown, n_seed))
    copyable = list(range(n_seed - takedown))
    next_id = 1_000_000
    rows, takedowns, probes = [], [], []
    for i, src in enumerate(nprng.choice(copyable, n_probe, replace=False)):
        probes.append((-1, 30_000_000 + i, seed_vecs[src], "fixed", int(src)))
    pid = 40_000_000
    for b in range(1, n_batches + 1):
        novel = []
        for v in _unit_rows(nprng, centers, batch_novel, SPREAD):
            next_id += 1
            vec_of[next_id] = v
            rows.append((b, next_id, v, "novel", -1))
            novel.append(next_id)
        for _ in range(batch_copy):
            src = copyable[int(nprng.integers(0, len(copyable)))]
            next_id += 1
            rows.append((b, next_id, vec_of[src], "copy", src))
        for d in retractable:
            takedowns.append((b, d))
            pid += 1
            probes.append((b, pid, vec_of[d], "retracted", d))
        copyable.extend(novel[takedown:])
        retractable = novel[:takedown]
    write(os.path.join(inp, "seed.parquet"), {
        "vec_id": np.arange(n_seed, dtype=np.int64), "embedding": vectors(seed_vecs)})
    write(os.path.join(inp, "batches.parquet"), {
        "round": np.array([r[0] for r in rows], dtype=np.int64),
        "vec_id": np.array([r[1] for r in rows], dtype=np.int64),
        "embedding": vectors([r[2] for r in rows]),
        "kind": [r[3] for r in rows],
        "source_id": np.array([r[4] for r in rows], dtype=np.int64)})
    write(os.path.join(inp, "takedowns.parquet"), {
        "round": np.array([t[0] for t in takedowns], dtype=np.int64),
        "vec_id": np.array([t[1] for t in takedowns], dtype=np.int64)})
    write(os.path.join(inp, "probes.parquet"), {
        "round": np.array([p[0] for p in probes], dtype=np.int64),
        "vec_id": np.array([p[1] for p in probes], dtype=np.int64),
        "embedding": vectors([p[2] for p in probes]),
        "tag": [p[3] for p in probes],
        "source_id": np.array([p[4] for p in probes], dtype=np.int64)})
    # the known-failure shard: the same vectors on every seed, ids >= 1000
    fixed = np.random.default_rng(20240601)
    sv = _unit_rows(fixed, fixed.standard_normal((4, DIM)), shard, 0.6)
    write(os.path.join(inp, "shard.parquet"), {
        "vec_id": np.arange(1000, 1000 + shard, dtype=np.int64), "embedding": vectors(sv)})
    return {"seed_vectors": n_seed, "dim": DIM, "rounds_available": n_batches,
            "batch_vectors": batch_novel + batch_copy,
            "batch_mix": {"novel": batch_novel, "exact_copy": batch_copy},
            "fixed_probe_vectors": n_probe, "takedown_per_round": takedown,
            "shard_vectors": shard}


GENERATORS = {
    "social_graph": gen_social_graph,
    "crawl_curation": gen_crawl_curation,
    "text_admission": gen_text_admission,
    "vector_admission": gen_vector_admission,
}
