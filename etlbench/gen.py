"""Seeded input generators. The program only ever sees the parquet files
these write; the seed never reaches it. Row counts do not depend on the
seed (only keys and values do), so every seed gives a workload the same
amount of work.

- billing: an ODS lake with the columns of `BillingSchema.odsSchema`,
  partitioned invoice_month/usage_day, for one month, plus a rule dim with
  the columns of `BillingSchema.dimSchema`;
- corpus: a `documents.parquet` with chains of near-duplicate documents.
"""
import os
import re

import duckdb
import numpy as np
import pandas as pd

MONTH = "2026-01"
DAYS = 31
ROWS_PER_DAY = 16_129  # ~500k fact rows a month; see README.md
ACCOUNTS = 2000
HOT_ACCOUNTS = 14
HOT_SHARE = 0.30
NO_RULE_SHARE = 0.05

CORPUS_DOCS = 2000
NEAR_DUP_SHARE = 0.30
CHAIN_LEN = 4

CREDIT_TYPES = [  # BillingSchema.CreditTypeToColumn
    ("COMMITTED_USAGE_DISCOUNT", "c_cud"),
    ("COMMITTED_USAGE_DISCOUNT_DOLLAR_BASE", "c_cud_db"),
    ("DISCOUNT", "c_discount"),
    ("FREE_TIER", "c_free_tier"),
    ("PROMOTION", "c_promotion"),
    ("RESELLER_MARGIN", "c_rm"),
    ("SUBSCRIPTION_BENEFIT", "c_sub_benefit"),
    ("SUSTAINED_USAGE_DISCOUNT", "c_sud"),
]
SERVICES = [(f"SVC-{i:02X}{i * 37 % 256:02X}", f"Service {'ABCDEFGHIJKL'[i]}",
             ("hour", "gibibyte", "request", "count")[i % 4]) for i in range(12)]
SKUS_PER_SERVICE = 25
COST_TYPES = np.array(["regular", "regular", "regular", "tax", "adjustment"])
# family id -> (project, service, sku) present; RuleMatch.Presence
PRESENCE = {f: (bool((f - 1) & 1), bool((f - 1) & 2), bool((f - 1) & 4)) for f in range(1, 9)}


def reference_accounts(root):
    """Account ids of `Modes.ReferenceExtraDiscount`, read from the program's
    source: the hot accounts are the reference's extra-discount accounts."""
    path = os.path.join(root, "src", "main", "scala", "graft", "kernel", "Modes.scala")
    with open(path) as f:
        text = f.read()
    block = text[text.index("val ReferenceExtraDiscount"):]
    block = block[:block.index(".toMap")]
    ids = sorted(set(re.findall(r'"(01[0-9A-F]{4}-[0-9A-F]{6}-[0-9A-F]{6})"', block)))
    if len(ids) < HOT_ACCOUNTS:
        raise ValueError("Modes.ReferenceExtraDiscount has fewer accounts than the generator needs")
    return ids


def _hex(rng, n, k):
    digits = np.array(list("0123456789ABCDEF"))
    return ["".join(row) for row in digits[rng.integers(0, 16, size=(n, k))]]


def _accounts(rng, reference):
    hot = reference[:HOT_ACCOUNTS]
    others = list(reference[HOT_ACCOUNTS:])
    seen = set(reference)
    while len(others) < ACCOUNTS - HOT_ACCOUNTS:
        a, b, c = _hex(rng, 1, 4)[0], _hex(rng, 1, 6)[0], _hex(rng, 1, 6)[0]
        acc = f"01{a}-{b}-{c}"
        if acc not in seen:
            seen.add(acc)
            others.append(acc)
    return hot, others


def _catalog(rng, n):
    """Per-account projects and services, which facts and rules both draw
    from so the specific rule families find rows to match. A hot account
    has 12-19 projects, so its rows of a day (~350) draw from a key space
    (project, service, sku, cost type) few of them collide in."""
    nproj = rng.integers(1, 5, size=n)
    nproj[:HOT_ACCOUNTS] = rng.integers(12, 20, size=HOT_ACCOUNTS)
    nsvc = rng.integers(3, 7, size=n)
    svcs = np.argsort(rng.random((n, len(SERVICES))), axis=1)[:, :6]
    return nproj, nsvc, svcs


def _names(n, max_proj):
    """Lookup tables of the generated strings: project ids by (account,
    project), sku ids and descriptions by (service, sku)."""
    project = np.array([[f"prj-{a:04d}-{p}" for p in range(max_proj)] for a in range(n)])
    sku = np.array([[f"{s[0]}-SKU-{k:03d}" for k in range(SKUS_PER_SERVICE)] for s in SERVICES])
    sku_desc = np.array([[f"{s[1]} sku {k}" for k in range(SKUS_PER_SERVICE)] for s in SERVICES])
    return project, sku, sku_desc


def _facts_for_day(rng, day, acc_ix, accounts, nproj, nsvc, svcs, names):
    """One day's rows; (account, project, service, sku, cost_type) is unique."""
    n = len(acc_ix)
    keys = pd.DataFrame({"a": acc_ix})
    todo = np.arange(n)
    cols = {k: np.zeros(n, dtype=np.int64) for k in ("p", "s", "k", "t")}
    while len(todo):
        a = acc_ix[todo]
        cols["p"][todo] = (rng.random(len(todo)) * nproj[a]).astype(int)
        cols["s"][todo] = svcs[a, (rng.random(len(todo)) * nsvc[a]).astype(int)]
        cols["k"][todo] = rng.integers(0, SKUS_PER_SERVICE, size=len(todo))
        cols["t"][todo] = rng.integers(0, len(COST_TYPES), size=len(todo))
        for c, v in cols.items():
            keys[c] = v
        keys["ct"] = COST_TYPES[keys["t"].to_numpy()]
        todo = np.flatnonzero(keys.duplicated(["a", "p", "s", "k", "ct"]).to_numpy())
    a = keys["a"].to_numpy()
    svc = keys["s"].to_numpy()
    svc_id = np.array([s[0] for s in SERVICES])[svc]
    svc_desc = np.array([s[1] for s in SERVICES])[svc]
    unit = np.array([s[2] for s in SERVICES])[svc]
    acct = np.array(accounts)[a]
    k = keys["k"].to_numpy()
    amount = rng.random(n) * 1000.0
    cost = amount * (0.001 + rng.random(n) * 0.05)
    cny = np.array([x[2] < "4" for x in acct])
    df = pd.DataFrame({
        "billing_account_id": acct, "usage_day": pd.Timestamp(day).date(),
        "project_id": names[0][a, keys["p"].to_numpy()],
        "service_id": svc_id, "service_description": svc_desc,
        "sku_id": names[1][svc, k], "sku_description": names[2][svc, k],
        "usage_pricing_unit": unit,
        "currency": np.where(cny, "CNY", "USD"), "currency_conversion_rate": np.where(cny, 7.1, 1.0),
        "cost_type": keys["ct"].to_numpy(),
        "usage_amount_in_pricing_units": amount, "cost": cost,
        "cost_at_list": cost * (1.0 + rng.random(n) * 0.3),
    })
    for _, c in CREDIT_TYPES:
        df[c] = np.where(rng.random(n) < 0.15, -cost * rng.random(n) * 0.3, 0.0)
    df["internal_credits_cost"] = np.where(rng.random(n) < 0.2, -cost * rng.random(n) * 0.1, 0.0)
    df["internal_credits_consumption"] = np.where(rng.random(n) < 0.2, -cost * rng.random(n) * 0.1, 0.0)
    df["no_arrays"] = rng.random(n) < 0.5
    return df


def _rule(rng, month, acct, a_ix, fam, nproj, nsvc, svcs, keys_from=None):
    has_p, has_s, has_k = PRESENCE[fam]
    svc = svcs[a_ix, rng.integers(0, nsvc[a_ix])]
    if keys_from is not None:
        p, s, k = keys_from
    else:
        p = f"prj-{a_ix:04d}-{rng.integers(0, nproj[a_ix])}" if has_p else None
        s = SERVICES[svc][1] if has_s else None
        k = f"{SERVICES[svc][0]}-SKU-{rng.integers(0, SKUS_PER_SERVICE):03d}" if has_k else None
    u = rng.random()
    price = None if u < 0.1 else 0.0 if u < 0.13 else 0.001 + rng.random() * 0.1
    discount = None if rng.random() < 0.1 else 0.7 + rng.random() * 0.3
    credit_fields = None if rng.random() < 0.2 else "/".join(
        c for _, c in CREDIT_TYPES if rng.random() < 0.4)
    return (month, acct, p, s, k, int(rng.integers(0, 5)), discount, price, credit_fields,
            None if rng.random() < 0.3 else f"cust-{acct[-6:]}",
            None if rng.random() < 0.3 else f"ctr-{acct[-6:]}-{fam}")


def billing(root, seed, out):
    rng = np.random.default_rng([seed, 1])
    hot, cold = _accounts(rng, reference_accounts(root))
    accounts = hot + cold
    nproj, nsvc, svcs = _catalog(rng, len(accounts))
    names = _names(len(accounts), int(nproj.max()))
    hot_rows = round(ROWS_PER_DAY * HOT_SHARE)
    days = pd.date_range(f"{MONTH}-01", periods=DAYS, freq="D")
    frames = []
    for day in days:
        acc_ix = np.concatenate([np.arange(hot_rows) % HOT_ACCOUNTS,
                                 HOT_ACCOUNTS + rng.integers(0, len(cold), ROWS_PER_DAY - hot_rows)])
        frames.append(_facts_for_day(rng, day, acc_ix, accounts, nproj, nsvc, svcs, names))
    facts = pd.concat(frames, ignore_index=True)
    facts.insert(0, "invoice_month", MONTH.replace("-", ""))

    no_rule = set(np.flatnonzero(rng.random(len(cold)) < NO_RULE_SHARE * ACCOUNTS / len(cold))
                  + HOT_ACCOUNTS)
    rules = []
    for i, acct in enumerate(accounts):
        if i in no_rule:
            continue
        # the first 8 hot accounts carry one rule of every family, so all 8
        # null patterns are present whatever the seed draws below
        fams = list(range(1, 9)) if i < 8 else []
        if rng.random() < 0.8:
            fams.append(1)
        fams += [int(2 + rng.integers(0, 7)) for _ in range(rng.integers(0, 4))]
        if not fams:
            fams.append(int(1 + rng.integers(0, 8)))
        for f in fams:
            r = _rule(rng, MONTH, acct, i, f, nproj, nsvc, svcs)
            rules.append(r)
            if rng.random() < 0.05:  # duplicate keys within one family
                rules.append(_rule(rng, MONTH, acct, i, f, nproj, nsvc, svcs, keys_from=r[2:5]))
            if rng.random() < 0.2:  # the same contract in a month this one never joins
                rules.append(_rule(rng, "2025-12", acct, i, f, nproj, nsvc, svcs))
    dim = pd.DataFrame(rules, columns=[
        "month", "billing_account_id", "project_id", "service_description", "sku_id", "mode",
        "discount", "price", "credit_fields", "customer_id", "contract_id"])

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    con.register("facts", facts)
    con.register("dim", dim)
    credit_types = ", ".join(f"CASE WHEN {c} <> 0 THEN '{t}' END" for t, c in CREDIT_TYPES)
    credit_amounts = ", ".join(f"CASE WHEN {c} <> 0 THEN {c} END" for _, c in CREDIT_TYPES)
    any_credit = " OR ".join(f"{c} <> 0" for _, c in CREDIT_TYPES)
    measures = ", ".join(["usage_amount_in_pricing_units", "cost", "cost_at_list"]
                         + [c for _, c in CREDIT_TYPES]
                         + ["internal_credits_cost", "internal_credits_consumption"])
    con.sql(f"""COPY (
        SELECT invoice_month, billing_account_id, CAST(usage_day AS DATE) AS usage_day,
               project_id, 'name-' || project_id AS project_name, service_id, service_description, sku_id,
               sku_description, usage_pricing_unit, currency, currency_conversion_rate,
               cost_type, {measures},
               CASE WHEN no_arrays AND NOT ({any_credit}) THEN NULL
                    ELSE list_filter([{credit_types}], x -> x IS NOT NULL) END AS credits_type,
               CASE WHEN no_arrays AND NOT ({any_credit}) THEN NULL
                    ELSE list_filter([{credit_amounts}], x -> x IS NOT NULL) END AS credits_amount
        FROM facts ORDER BY usage_day)
        TO '{out}/ods' (FORMAT PARQUET, PARTITION_BY (invoice_month, usage_day))""")
    os.makedirs(f"{out}/dim", exist_ok=True)
    con.sql(f"""COPY (SELECT month, billing_account_id, project_id, service_description, sku_id,
                        CAST(mode AS INTEGER) AS mode, discount, price, credit_fields,
                        customer_id, contract_id FROM dim)
                TO '{out}/dim/part-0.parquet' (FORMAT PARQUET)""")


VOCAB = ["the", "a", "and", "of", "to", "in"] + [
    x + y + z for x in "bcdfghjklmnp" for y in "aeiou" for z in "rstv"][:120]


def _words(rng, n):
    stop = rng.random(n) < 0.3
    return [VOCAB[i] for i in np.where(stop, rng.integers(0, 6, n), rng.integers(0, len(VOCAB), n))]


# Dedup's near-duplicate pairs (d03), mirrored so that the generator can
# check the graph it makes: word 3-shingles of lower(trim(text)), a
# polynomial hash of each shingle mod 1e9+7, 16 MinHash permutations
# ((2j+1)h + 7j+3) mod 1e9+7 in 4 bands of 4 (the parameters below 16,384
# documents), and a verified Jaccard of at least 0.5. `Dedup.corpus` adds a
# copy of every document at doc_id + 100000 without its first 14 characters.
HASH_MOD = 1_000_000_007
MINHASHES = 16
BAND = 4
COPY_OFFSET = 100000
CHAIN_WORDS = 80
CHAIN_STEP_WORDS = 5  # words replaced between neighbours: Jaccard ~0.7, two apart ~0.5


_SHINGLE_HASH = {}  # shingle -> hash; the vocabulary is small, so shingles recur


def _shingles(text):
    """{shingle: hash} of a normalized text."""
    toks = text.split()
    out = {}
    for i in range(len(toks) - 2):
        sh = " ".join(toks[i:i + 3])
        h = _SHINGLE_HASH.get(sh)
        if h is None:
            h = 0
            for ch in sh:
                h = (h * 31 + ord(ch)) % HASH_MOD
            _SHINGLE_HASH[sh] = h
        out[sh] = h
    return out


def _band_keys(shingles):
    j = np.arange(MINHASHES, dtype=np.int64)
    h = np.fromiter(shingles.values(), dtype=np.int64, count=len(shingles))
    sig = (((2 * j + 1)[None, :] * h[:, None] + (7 * j + 3)[None, :]) % HASH_MOD).min(axis=0)
    return [(k, tuple(sig[k * BAND:(k + 1) * BAND])) for k in range(MINHASHES // BAND)]


def near_dup_graph(docs):
    """Adjacency of Dedup's verified near-duplicate pairs over `docs`
    ((doc_id, text) pairs) and their shifted copies."""
    nodes = []
    for doc_id, text in docs:
        t = text.strip().lower()
        nodes += [(doc_id, _shingles(t)), (doc_id + COPY_OFFSET, _shingles(t[14:]))]
    buckets = {}
    for i, (_, sh) in enumerate(nodes):
        if sh:
            for key in _band_keys(sh):
                buckets.setdefault(key, []).append(i)
    adj = {n: set() for n, _ in nodes}
    for members in buckets.values():
        for x, a in enumerate(members):
            for b in members[x + 1:]:
                (na, sa), (nb, sb) = nodes[a], nodes[b]
                inter = len(sa.keys() & sb.keys())
                if inter / (len(sa) + len(sb) - inter) >= 0.5:
                    adj[na].add(nb)
                    adj[nb].add(na)
    return adj


def components(adj):
    """(eccentricity of the smallest node, size) of each component with an
    edge: label propagation from the smallest id needs eccentricity + 1
    rounds."""
    seen, out = set(), []
    for n in sorted(adj):
        if n in seen or not adj[n]:
            continue
        dist, queue = {n: 0}, [n]
        for x in queue:
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    queue.append(y)
        seen.update(dist)
        out.append((max(dist.values()), len(dist)))
    return out


def _chain(rng):
    """CHAIN_LEN documents, each the previous with CHAIN_STEP_WORDS words
    replaced, redrawn until the chain and its copies form one component
    whose smallest id is CHAIN_LEN - 1 hops from its farthest node."""
    while True:
        cur = _words(rng, CHAIN_WORDS)
        texts = []
        for _ in range(CHAIN_LEN):
            texts.append(" ".join(cur))
            cur = list(cur)
            for p in rng.choice(np.arange(5, CHAIN_WORDS, 3), size=CHAIN_STEP_WORDS, replace=False):
                cur[p] = VOCAB[rng.integers(6, len(VOCAB))]
        if components(near_dup_graph(list(enumerate(texts)))) == [(CHAIN_LEN - 1, 2 * CHAIN_LEN)]:
            return texts


def corpus(seed, out):
    """`documents` with NEAR_DUP_SHARE of the docs in chains of CHAIN_LEN.
    Neighbours in a chain are near-duplicates, while documents further
    apart are not, so connected components needs several rounds to label a
    chain. Every chain is drawn to the same shape (one component, the
    smallest id CHAIN_LEN - 1 hops from the farthest node) and the whole
    corpus is checked to hold no larger one, so the rounds, and with them
    an op's work, do not depend on the seed. Every doc_id is below
    100000, where `Dedup.corpus` puts each document's shifted copy."""
    rng = np.random.default_rng([seed, 2])
    while True:
        ids = rng.choice(COPY_OFFSET, size=CORPUS_DOCS, replace=False)
        texts = []
        chained = round(CORPUS_DOCS * NEAR_DUP_SHARE) // CHAIN_LEN * CHAIN_LEN
        for start in range(0, chained, CHAIN_LEN):
            ids[start:start + CHAIN_LEN].sort()
            texts += _chain(rng)
        while len(texts) < CORPUS_DOCS:
            texts.append(" ".join(_words(rng, int(rng.integers(10, 120)))))
        shape = components(near_dup_graph(list(zip(ids.tolist(), texts))))
        if max(shape) == (CHAIN_LEN - 1, 2 * CHAIN_LEN) and \
                sum(1 for c in shape if c == (CHAIN_LEN - 1, 2 * CHAIN_LEN)) == chained // CHAIN_LEN:
            break
    docs = pd.DataFrame({
        "doc_id": ids.astype(np.int64), "text": texts,
        "lang": np.where(rng.random(CORPUS_DOCS) < 0.8, "en", "de"),
        "source": [f"src{i}" for i in rng.integers(0, 5, CORPUS_DOCS)],
        "n_chars": [len(t) for t in texts],
    })
    os.makedirs(f"{out}/documents.parquet", exist_ok=True)
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    con.register("docs", docs)
    con.sql(f"""COPY (SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
                      FROM docs ORDER BY doc_id)
                TO '{out}/documents.parquet/part-0.parquet' (FORMAT PARQUET)""")
