"""Output checks, one list per workload.

Every check compares the program's output either with a computation made
apart from the program (DuckDB or Python over the generated inputs and the
generator's planted truth) or with a property the method must have.
Float aggregates are compared within FLOAT_TOL, because summation order
changes with partitioning; everything else is compared exactly.

Each check is a pure function over loaded rows returning (ok, detail), so
test_checks.py can feed it corrupted outputs and see it reject them.
"""
import collections
import glob
import json
import os
import unicodedata

import duckdb

import gen

FLOAT_TOL = 1e-9
DAY_US = 86400 * 1000000


def _pq(path, empty=None):
    """A parquet file or a Spark output directory, as a DuckDB source.
    `empty` is the relation to use when the directory was never written
    (an admission loop appends to its corpus only when it admits)."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        return "read_parquet([%s])" % ", ".join("'%s'" % f for f in files)
    if empty is not None and not os.path.exists(path):
        return empty
    return "read_parquet('%s')" % path


def _rows(con, sql):
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _diff(want, got, limit=3):
    missing = sorted(want - got)[:limit]
    extra = sorted(got - want)[:limit]
    return "missing %s extra %s" % (missing, extra)


# ----------------------------------------------------------------- social_graph

def same_set(want, got):
    want, got = set(want), set(got)
    return want == got, "%d rows" % len(got) if want == got else _diff(want, got)


def same_list(want, got):
    return list(want) == list(got), "%d rows" % len(got) if list(want) == list(got) else \
        "want %s got %s" % (list(want)[:3], list(got)[:3])


def symmetric(pairs):
    s = set(pairs)
    bad = [(a, b) for a, b in s if (b, a) not in s]
    return not bad, "%d pairs" % len(s) if not bad else "unmatched %s" % bad[:3]


def one_row_per_key_newest(want_newest, got_rows):
    """got_rows: (user_id, last_updated_us, full_name); want: the same
    triple of the newest source row per user."""
    keys = collections.Counter(r[0] for r in got_rows)
    dup = [k for k, n in keys.items() if n > 1]
    if dup:
        return False, "users with %d+ rows: %s" % (2, dup[:3])
    return same_set(want_newest, got_rows)


def interests_expected(following, bio_category, mix, taxonomy):
    """Child (user, category) rows and the parent rollup, from the
    categories planted in the followed accounts' bios."""
    conf = {c: round(w / (w + l), 4) for c, (w, l) in mix.items()}
    child = collections.defaultdict(int)
    for u, o in following:
        c = bio_category.get(o)
        if c is not None:
            child[(u, c)] += 1
    parents = collections.defaultdict(list)
    for (u, c) in child:
        parents[(u, taxonomy.get(c, c))].append(c)
    rollup = []
    for (u, p), cs in parents.items():
        top = max(cs, key=lambda c: (conf[c], c))
        rollup.append((u, p, top, conf[top], len(cs)))
    return child, rollup


def rollup_matches(want, got):
    """(user, parent, top_category, top_confidence, n_interests); the
    confidence is a float average, compared within FLOAT_TOL."""
    w = {r[:3] + (r[4],): r[3] for r in want}
    g = {r[:3] + (r[4],): r[3] for r in got}
    if len(got) != len(g):
        return False, "duplicate rollup rows"
    if set(w) != set(g):
        return False, _diff(set(w), set(g))
    off = [k for k in w if abs(w[k] - g[k]) > FLOAT_TOL]
    return not off, "%d rows" % len(g) if not off else "confidence off at %s" % off[:3]


def n_interests_sum(n_child, got):
    s = sum(r[4] for r in got)
    return s == n_child, "sum %d vs %d child rows" % (s, n_child)


def check_social_graph(run, res):
    inp = os.path.join(run, "input")
    out = os.path.join(run, "out")
    con = duckdb.connect()
    for t in ("users", "users_incoming", "followers", "following", "jobs", "targets",
              "interests", "job_updates"):
        con.execute("CREATE VIEW %s AS SELECT * FROM %s" % (t, _pq(os.path.join(inp, t + ".parquet"))))
    truth = json.load(open(os.path.join(inp, "truth.json")))
    now = truth["now_us"]
    con.execute("""CREATE VIEW merged AS SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY last_updated_us DESC) AS rn
        FROM (SELECT * FROM users UNION ALL BY NAME SELECT * FROM users_incoming)) WHERE rn = 1""")
    con.execute("""CREATE VIEW jobs_updated AS SELECT j.job_id, j.target_username, j.job_type,
        coalesce(u.status, j.status) AS status, j.started_at_us, j.completed_at_us, j.total_items,
        coalesce(u.processed_items, j.processed_items) AS processed_items
        FROM jobs j LEFT JOIN job_updates u USING (job_id)""")
    got = lambda name, cols: _rows(con, "SELECT %s FROM %s" % (cols, _pq(os.path.join(out, name))))
    mut = got("mutuals", "user_id, mutual_id")
    following = _rows(con, "SELECT user_id, other_id FROM following")
    child, rollup = interests_expected(
        following, {int(k): v for k, v in truth["bio_category"].items()},
        truth["mix"], truth["taxonomy"])
    inter = got("interests", "user_id, parent_category, top_category, top_confidence, n_interests")
    return [
        ("social.mutuals_equal_duckdb", *same_set(_rows(con, """SELECT DISTINCT user_id, other_id
            FROM followers JOIN following USING (user_id, other_id)"""), mut)),
        ("social.mutuals_symmetric", *symmetric(mut)),
        ("social.upsert_one_newest_row_per_user", *one_row_per_key_newest(
            _rows(con, "SELECT user_id, last_updated_us, full_name FROM merged"),
            _rows(con, "SELECT user_id, last_updated_us, full_name FROM %s"
                  % _pq(os.path.join(run, "warehouse", "users"))))),
        ("social.schedule_equal_duckdb", *same_set(_rows(con, """
            SELECT t.target_username, jt.job_type, 'pending' FROM targets t
            CROSS JOIN (VALUES ('profile'), ('followers'), ('following')) jt(job_type)
            WHERE t.target_username NOT IN (SELECT target_username FROM jobs
              WHERE job_type IN ('profile', 'followers', 'following')
                AND started_at_us > %d)""" % (now - 7 * DAY_US)),
            got("schedule", "target_username, job_type, status"))),
        ("social.pending_batch_equal_duckdb", *same_list(_rows(con, """SELECT job_id FROM jobs
            WHERE status = 'pending' ORDER BY job_id LIMIT 10"""),
            sorted(got("pending_batch", "job_id")))),
        ("social.pending_analysis_equal_duckdb", *same_list(_rows(con, """
            SELECT m.user_id, m.username FROM merged m
            JOIN (SELECT DISTINCT target_username AS username FROM jobs
                  WHERE job_type = 'following' AND status = 'completed') d USING (username)
            WHERE m.user_id NOT IN (SELECT user_id FROM interests)
            ORDER BY m.user_id LIMIT 25"""), sorted(got("pending_analysis", "user_id, username")))),
        ("social.job_stats_equal_duckdb", *same_set(_rows(con, """SELECT job_type, status,
            count(*), sum(processed_items), sum(total_items) FROM jobs_updated
            GROUP BY job_type, status"""), got("job_stats", "job_type, status, n, processed, total"))),
        ("social.interests_equal_planted_categories", *rollup_matches(rollup, inter)),
        ("social.rollup_n_interests_sums_to_child_rows", *n_interests_sum(len(child), inter)),
    ]


# --------------------------------------------------------------- crawl_curation

def funnel_never_grows(funnel, n_input):
    rows = [r["rows"] for r in funnel]
    grows = any(b > a for a, b in zip(rows, rows[1:]))
    first3 = rows[:3] == [n_input] * 3
    return (not grows and first3 and len(rows) == 7), "funnel %s, %d input records" % (rows, n_input)


def subset(got, universe):
    extra = set(got) - set(universe)
    return not extra, "%d ids" % len(set(got)) if not extra else "not in input %s" % sorted(extra)[:3]


def at_most_one_per_group(groups, got):
    g = set(got)
    bad = [grp for grp in groups if len(g & set(grp)) > 1]
    return not bad, "%d groups" % len(groups) if not bad else "groups with 2+ survivors %s" % bad[:3]


def disjoint(bad_ids, got, what):
    hit = set(bad_ids) & set(got)
    return not hit, "%d %s, none kept" % (len(set(bad_ids)), what) if not hit else \
        "%s kept: %s" % (what, sorted(hit)[:3])


def no_mojibake(texts, marks=gen.MOJIBAKE_MARKS):
    bad = [t for t in texts if any(m in t for m in marks)]
    return not bad, "%d texts" % len(texts) if not bad else "signature in %r" % bad[0][:80]


def nfc_stable(texts):
    bad = [t for t in texts if unicodedata.normalize("NFC", t) != t]
    return not bad, "%d texts" % len(texts) if not bad else "not NFC: %r" % bad[0][:80]


def check_crawl_curation(run, res):
    truth = json.load(open(os.path.join(run, "input", "truth.json")))
    funnel = json.load(open(os.path.join(run, "out", "funnel.json")))
    con = duckdb.connect()
    cur = _rows(con, "SELECT doc_id, text FROM %s" % _pq(os.path.join(run, "out", "curated")))
    ids = [r[0] for r in cur]
    texts = [r[1] for r in cur]
    return [
        ("crawl.funnel_never_grows_first_three_equal_input",
         *funnel_never_grows(funnel, len(truth["ids"]))),
        ("crawl.curated_ids_subset_of_input", *subset(ids, truth["ids"])),
        ("crawl.exact_duplicate_group_one_survivor",
         *at_most_one_per_group(truth["exact_groups"], ids)),
        ("crawl.no_registered_eval_document", *disjoint(truth["eval_pages"], ids, "eval pages")),
        ("crawl.no_mojibake_signature", *no_mojibake(texts)),
        ("crawl.curated_text_nfc_stable", *nfc_stable(texts)),
    ]


# ------------------------------------------------------------ admission loops

def unique_ids(ids):
    c = collections.Counter(ids)
    dup = [k for k, n in c.items() if n > 1]
    return not dup, "%d ids" % len(c) if not dup else "admitted twice %s" % dup[:3]


def copies_not_admitted(rows, admitted_batch, seed_ids, retracted_round, what):
    """rows: (round, id, source_id) of planted copies. A copy counts when
    its source was indexed when its batch ran: a seed item, or one the
    loop admitted in an earlier batch, and not retracted before."""
    bad = []
    n = 0
    for rnd, i, src in rows:
        indexed = src in seed_ids or admitted_batch.get(src, rnd) < rnd
        if indexed and retracted_round.get(src, rnd) >= rnd:
            n += 1
            if i in admitted_batch:
                bad.append(i)
    return not bad, "%d %s" % (n, what) if not bad else "%s admitted: %s" % (what, bad[:3])


def corpus_rows_match_funnel(corpus_batches, funnel_admitted, batches):
    """Corpus rows appended per batch equal the loop's own admitted count."""
    per = collections.Counter(corpus_batches)
    bad = [(b, per.get(b, 0), funnel_admitted.get(b)) for b in batches
           if funnel_admitted.get(b) != per.get(b, 0)]
    return not bad, "%d batches" % len(batches) if not bad else "batch, corpus, funnel: %s" % bad[:3]


def serves_itself(top1, source_of):
    """top1: q_id -> (n_id, cos) of rank 1; source_of: q_id -> copied id."""
    bad = [(q, top1.get(q)) for q, s in source_of.items()
           if q not in top1 or top1[q][0] != s or abs(top1[q][1] - 1.0) > FLOAT_TOL]
    return not bad, "%d probes" % len(source_of) if not bad else "rank 1 not itself: %s" % bad[:3]


def retracted_never_served(serves, retracted_before):
    """serves: (round, n_id); retracted_before(round) -> ids gone by then."""
    bad = [(r, n) for r, n in serves if n in retracted_before(r)]
    return not bad, "%d results" % len(serves) if not bad else "retracted id served: %s" % bad[:3]


def _admission_common(run, res, id_col):
    con = duckdb.connect()
    inp = os.path.join(run, "input")
    rounds = int(res["info"]["rounds"])
    # the stream numbers its micro-batches from 0; round r is batch r - 1
    corpus = _rows(con, "SELECT %s, batch_id + 1 FROM %s" % (id_col, _pq(
        os.path.join(run, "out", "corpus"),
        empty="(SELECT 0::BIGINT AS %s, 0::BIGINT AS batch_id WHERE false)" % id_col)))
    admitted = {}
    for i, b in corpus:
        admitted.setdefault(i, b)
    take = _rows(con, "SELECT round, %s FROM %s" % (id_col, _pq(os.path.join(inp, "takedowns.parquet"))))
    retracted_round = {i: r for r, i in take if r <= rounds}
    seed = {r[0] for r in _rows(con, "SELECT %s FROM %s" % (id_col, _pq(os.path.join(inp, "seed.parquet"))))}
    batches = _rows(con, "SELECT round, %s, kind, source_id FROM %s WHERE round <= %d"
                    % (id_col, _pq(os.path.join(inp, "batches.parquet")), rounds))
    return con, rounds, corpus, admitted, retracted_round, seed, batches


def serve_verdicts(serves, probes, admitted):
    """Takedown verdicts from the per-round serves that follow each
    takedown. serves: (round, probe_id, kind); probes: probe_id ->
    (tag, source_id). A retracted text must serve new; a text the loop
    admitted and did not retract, and a re-crawl of a seed page, exact."""
    bad, n = [], 0
    for r, q, kind in serves:
        tag, src = probes[q]
        want = {"retracted": "new", "recrawl": "exact"}.get(tag)
        if tag == "admitted" and src in admitted:
            want = "exact"
        if want is not None:
            n += 1
            if kind != want:
                bad.append((r, q, tag, kind))
    return not bad, "%d verdicts" % n if not bad else "wrong verdicts %s" % bad[:3]


def check_text_admission(run, res):
    con, rounds, corpus, admitted, retracted_round, seed, batches = \
        _admission_common(run, res, "doc_id")
    log = _rows(con, "SELECT batch_id + 1, max(n) FROM %s WHERE stage = '4_admitted' GROUP BY batch_id"
                % _pq(os.path.join(run, "out", "funnel_log")))
    serves = _rows(con, "SELECT round, doc_id, kind FROM %s WHERE round >= 1"
                   % _pq(os.path.join(run, "out", "serves")))
    probes = {r[0]: (r[1], r[2]) for r in _rows(
        con, "SELECT doc_id, tag, source_id FROM %s" % _pq(os.path.join(run, "input", "probes.parquet")))}
    return [
        ("text.no_id_admitted_twice", *unique_ids([i for i, _ in corpus])),
        ("text.no_recrawl_of_admitted_page_admitted", *copies_not_admitted(
            [(r, i, s) for r, i, k, s in batches if k == "recrawl"], admitted, seed,
            retracted_round, "re-crawls")),
        ("text.no_eval_page_admitted", *disjoint(
            [i for _, i, k, _ in batches if k == "eval"], admitted, "eval pages")),
        ("text.corpus_rows_per_batch_equal_funnel_admitted", *corpus_rows_match_funnel(
            [b for _, b in corpus], dict(log), list(range(1, rounds + 1)))),
        ("text.takedown_retracted_new_others_exact", *serve_verdicts(serves, probes, admitted)),
    ]


def check_vector_admission(run, res):
    con, rounds, corpus, admitted, retracted_round, seed, batches = \
        _admission_common(run, res, "vec_id")
    serves = _rows(con, "SELECT round, q_id, n_id, cos, rn FROM %s"
                   % _pq(os.path.join(run, "out", "serves")))
    fixed = dict(_rows(con, "SELECT vec_id, source_id FROM %s WHERE tag = 'fixed'"
                       % _pq(os.path.join(run, "input", "probes.parquet"))))
    top1 = {(r, q): (n, c) for r, q, n, c, rn in serves if rn == 1}

    def gone_by(r):
        return {i for i, k in retracted_round.items() if k <= r}
    return [
        ("vector.planted_exact_copies_never_admitted", *copies_not_admitted(
            [(r, i, s) for r, i, k, s in batches if k == "copy"], admitted, seed,
            retracted_round, "exact copies")),
        ("vector.copy_serves_itself_at_cosine_1", *serves_itself(
            top1, {(r, q): s for r in range(1, rounds + 1) for q, s in fixed.items()})),
        ("vector.retracted_ids_never_served", *retracted_never_served(
            [(r, n) for r, q, n, c, rn in serves], gone_by)),
    ]


CHECKS = {
    "social_graph": check_social_graph,
    "crawl_curation": check_crawl_curation,
    "text_admission": check_text_admission,
    "vector_admission": check_vector_admission,
}
