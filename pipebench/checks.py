"""Output checks for each benchmark workload.

Every check recomputes a result apart from the program (a plain scan of the
landing files, DuckDB SQL over the parquet the run wrote, numpy) or tests a
property the method must have. `check(workload, in_dir, out_dir)` returns a
list of problems; an empty list means the outputs are correct.
"""
import datetime
import json
import math
import os
import re

import duckdb
import numpy as np

# ---------------------------------------------------------------- helpers


def _pq(path, hive=False):
    glob = os.path.join(path, "**", "*.parquet") if hive else os.path.join(path, "*.parquet")
    if hive:
        return f"read_parquet('{glob}', hive_partitioning=true)"
    return f"read_parquet('{glob}')"


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _rows(con, sql):
    return sorted((tuple(_norm(v) for v in r) for r in con.sql(sql).fetchall()), key=repr)


def _same(con, name, got_sql, want_sql, problems):
    got, want = _rows(con, got_sql), _rows(con, want_sql)
    if not want:
        problems.append(f"{name}: the recomputation is empty")
    elif got != want:
        extra = [r for r in got if r not in want][:2]
        missing = [r for r in want if r not in got][:2]
        problems.append(f"{name}: {len(got)} rows vs {len(want)} recomputed; "
                        f"unexpected {extra}, missing {missing}")


def _params(out_dir):
    with open(os.path.join(out_dir, "params.json")) as fh:
        return json.load(fh)


# -------------------------------------------------------------------- X12

def scan_transactions(path):
    """(file, ST control number) of each transaction a bronze-valid file
    holds, by a plain scan: a group opens at ST and closes at SE or at the
    next ST (the reference parser's grouping); a group still open at the end
    of the file is dropped. None when bronze must reject the file."""
    with open(path, encoding="utf-8", errors="replace") as fh:
        content = fh.read()
    if not (content.startswith("ISA") and len(content) >= 100
            and "GS" in content and "ST" in content):
        return None
    name = os.path.basename(path)
    found, open_st = [], None
    for seg in content.split("~"):
        el = seg.strip().split("*")
        if el[0] == "ST":
            if open_st is not None:
                found.append((name, open_st))
            open_st = el[2] if len(el) > 2 else ""
        elif el[0] == "SE" and open_st is not None:
            found.append((name, open_st))
            open_st = None
    return found


def _x12_phases(in_dir):
    """Phases landed so far ('full', then 'bNN' per batch) in order."""
    phases = ["full"]
    bdir = os.path.join(in_dir, "batches")
    for b in sorted(os.listdir(bdir)) if os.path.isdir(bdir) else []:
        if not os.listdir(os.path.join(bdir, b)):
            phases.append(b)
    return phases


def _ack997(sender, receiver, fgns, tcns, when):
    """The 997 interchange the program's generator must emit (all accepted)."""
    t, ds, dl = when.strftime("%H%M"), when.strftime("%y%m%d"), when.strftime("%Y%m%d")
    icn, gcn = when.strftime("%y%m%d%H%M"), when.strftime("%H%M%S")
    fgn = fgns[0] if fgns else ""
    n = len(tcns)
    segs = [f"ISA*00*          *00*          *ZZ*{receiver.ljust(15)}*ZZ*"
            f"{sender.ljust(15)}*{ds}*{t}*^*00501*{icn}*0*T*:~",
            f"GS*FA*{receiver}*{sender}*{dl}*{t}*{gcn}*X*005010~",
            "ST*997*0001~", f"AK1*{fgn[:2]}*{fgn}~"]
    for tcn in tcns:
        segs += [f"AK2*{tcn[:3]}*{tcn}~", "AK5*A~"]
    segs += [f"AK9*A*{n}*{n}*{n}~", f"SE*{4 + 2 * n + 1}*0001~", f"GE*1*{gcn}~",
             f"IEA*1*{icn}~"]
    return "\n".join(segs)


# gold marts recomputed in DuckDB over the valid silver rows (`s`); every
# mart is compared without its created_at wall-clock column
X12_MARTS = {
    "gold_transaction_summary": """
        SELECT processing_date, transaction_type, sender_id, receiver_id,
         count(*), avg(quality_score), min(processing_timestamp),
         max(processing_timestamp), count(DISTINCT interchange_control_number),
         count(DISTINCT file_name)
        FROM s GROUP BY ALL""",
    "gold_healthcare_claim_analytics": """
        WITH c AS (SELECT processing_date, sender_id, receiver_id,
          interchange_control_number, transaction_set_control_number, quality_score,
          len(s.payload.claim837.service_lines) AS total_service_lines,
          COALESCE(s.payload.claim837.claim.monetary_amount, 0.0) AS total_claim_amount,
          list_reduce(list_prepend(0.0, list_transform(s.payload.claim837.service_lines,
            x -> x.monetary_amount)), (a, b) -> a + b) AS calculated_total,
          len(list_distinct(list_filter(list_transform(s.payload.claim837.service_lines,
            x -> x.product_service_id), y -> y IS NOT NULL AND y <> ''))) AS usc,
          COALESCE(s.payload.claim837.provider.entity_identifier_code, '') AS pt,
          COALESCE(s.payload.claim837.claim.claim_filing_indicator_code, '') AS fi
         FROM s WHERE transaction_type = '837' AND s.payload.claim837 IS NOT NULL)
        SELECT processing_date, sender_id, receiver_id, interchange_control_number,
         transaction_set_control_number, quality_score, total_service_lines,
         total_claim_amount, calculated_total,
         abs(total_claim_amount - calculated_total), usc, pt, fi,
         CASE WHEN total_claim_amount > 0 THEN abs(total_claim_amount - calculated_total)
           / total_claim_amount * 100 ELSE 0.0 END
        FROM c""",
    "gold_healthcare_payment_analytics": """
        WITH p AS (SELECT processing_date, sender_id, receiver_id,
          interchange_control_number, transaction_set_control_number, quality_score,
          len(s.payload.payment835.claims) AS total_claims,
          COALESCE(s.payload.payment835.header.monetary_amount, 0.0) AS pay,
          list_reduce(list_prepend(0.0, list_transform(s.payload.payment835.claims,
            x -> x.claim_charge_amount)), (a, b) -> a + b) AS charges,
          list_reduce(list_prepend(0.0, list_transform(s.payload.payment835.claims,
            x -> x.patient_responsibility_amount)), (a, b) -> a + b) AS resp,
          COALESCE(s.payload.payment835.payer.identification_code, '') AS payer_id
         FROM s WHERE transaction_type = '835' AND s.payload.payment835 IS NOT NULL)
        SELECT processing_date, sender_id, receiver_id, interchange_control_number,
         transaction_set_control_number, quality_score, total_claims, pay, charges,
         resp, abs(pay - (charges - resp)), payer_id,
         CASE WHEN charges > 0 THEN abs(pay - (charges - resp)) / charges * 100 ELSE 0.0 END,
         CASE WHEN charges > 0 THEN pay / charges * 100 ELSE 0.0 END
        FROM p""",
    "gold_trading_partner_analytics": """
        SELECT processing_date, sender_id, receiver_id, count(*),
         count(DISTINCT transaction_type), avg(quality_score),
         count(*) FILTER (transaction_type = '837'), count(*) FILTER (transaction_type = '835'),
         count(*) FILTER (transaction_type = '834'), count(*) FILTER (transaction_type = '270'),
         count(*) FILTER (transaction_type = '271'), count(*) FILTER (transaction_type = '276'),
         count(*) FILTER (transaction_type = '277'), count(*) FILTER (transaction_type = '278'),
         count(*) FILTER (transaction_type = '279'),
         count(DISTINCT interchange_control_number), min(processing_timestamp),
         max(processing_timestamp), sender_id || '-' || receiver_id
        FROM s GROUP BY processing_date, sender_id, receiver_id""",
    "gold_data_quality_metrics": """
        SELECT processing_date, transaction_type, count(*), avg(quality_score),
         min(quality_score), max(quality_score),
         count(*) FILTER (quality_score >= 90),
         count(*) FILTER (quality_score BETWEEN 70 AND 89),
         count(*) FILTER (quality_score < 70),
         count(DISTINCT file_name), count(DISTINCT sender_id), count(DISTINCT receiver_id),
         count(*) FILTER (quality_score >= 90) / count(*) * 100,
         count(*) FILTER (quality_score BETWEEN 70 AND 89) / count(*) * 100,
         count(*) FILTER (quality_score < 70) / count(*) * 100
        FROM s GROUP BY processing_date, transaction_type""",
    "gold_eligibility_analytics": """
        SELECT processing_date, transaction_type, sender_id, receiver_id, quality_score,
         COALESCE(len(s.payload.eligibility270.inquiries), 0),
         COALESCE(len(s.payload.eligibility271.benefits), 0),
         len(list_distinct(list_filter(list_concat(
           list_transform(COALESCE(s.payload.eligibility270.inquiries, []), x -> x.service_type_code),
           list_transform(COALESCE(s.payload.eligibility271.benefits, []), x -> x.service_type_code)),
           y -> y IS NOT NULL AND y <> ''))),
         len(list_distinct(list_filter(
           list_transform(COALESCE(s.payload.eligibility271.benefits, []), x -> x.coverage_level_code),
           y -> y IS NOT NULL AND y <> '')))
        FROM s WHERE transaction_type IN ('270', '271')""",
    "gold_claim_status_analytics": """
        SELECT processing_date, transaction_type, sender_id, receiver_id, quality_score,
         len(COALESCE(s.payload.status277.claim_status, [])),
         list_reduce(list_prepend(0.0, list_transform(COALESCE(s.payload.status277.claim_status, []),
           x -> x.total_claim_charge_amount)), (a, b) -> a + b),
         list_reduce(list_prepend(0.0, list_transform(COALESCE(s.payload.status277.claim_status, []),
           x -> x.claim_payment_amount)), (a, b) -> a + b),
         len(list_distinct(list_filter(list_transform(COALESCE(s.payload.status277.claim_status, []),
           x -> x.health_care_claim_status_code), y -> y IS NOT NULL AND y <> '')))
        FROM s WHERE transaction_type IN ('276', '277')""",
    "gold_request_response_pairs": """
        SELECT q.corr_ref, q.processing_date, q.sender_id, q.receiver_id, q.tcn, q.qs, 0,
         r.tcn, r.qs, r.n, '276-277'
        FROM (SELECT s.payload.status276.trace.reference_identification AS corr_ref,
               processing_date, sender_id, receiver_id,
               transaction_set_control_number AS tcn, quality_score AS qs
              FROM s WHERE transaction_type = '276') q
        JOIN (SELECT s.payload.status277.header.reference_identification AS corr_ref,
               transaction_set_control_number AS tcn, quality_score AS qs,
               len(s.payload.status277.claim_status) AS n
              FROM s WHERE transaction_type = '277') r USING (corr_ref)
        UNION ALL
        SELECT q.corr_ref, q.processing_date, q.sender_id, q.receiver_id, q.tcn, q.qs, q.n,
         r.tcn, r.qs, r.n, '270-271'
        FROM (SELECT s.payload.eligibility270.header.reference_identification AS corr_ref,
               processing_date, sender_id, receiver_id,
               transaction_set_control_number AS tcn, quality_score AS qs,
               len(s.payload.eligibility270.inquiries) AS n
              FROM s WHERE transaction_type = '270') q
        JOIN (SELECT s.payload.eligibility271.header.reference_identification AS corr_ref,
               transaction_set_control_number AS tcn, quality_score AS qs,
               len(s.payload.eligibility271.benefits) AS n
              FROM s WHERE transaction_type = '271') r USING (corr_ref)""",
}

X12_MART_COLUMNS = {
    "gold_transaction_summary": "processing_date, transaction_type, sender_id, receiver_id, "
        "transaction_count, average_quality_score, first_processed, last_processed, "
        "unique_interchanges, unique_files",
    "gold_healthcare_claim_analytics": "processing_date, sender_id, receiver_id, "
        "interchange_control_number, transaction_set_control_number, quality_score, "
        "total_service_lines, total_claim_amount, calculated_total, amount_variance, "
        "unique_service_count, provider_type, filing_indicator, variance_percentage",
    "gold_healthcare_payment_analytics": "processing_date, sender_id, receiver_id, "
        "interchange_control_number, transaction_set_control_number, quality_score, "
        "total_claims, total_payment_amount, total_charge_amount, "
        "total_patient_responsibility, payment_variance, payer_id, variance_percentage, "
        "payment_ratio",
    "gold_trading_partner_analytics": "processing_date, sender_id, receiver_id, "
        "total_transactions, unique_transaction_types, average_quality_score, "
        "healthcare_claims, payment_advices, enrollments, eligibility_inquiries, "
        "eligibility_responses, claim_status_requests, claim_status_responses, "
        "preauth_requests, preauth_responses, unique_interchanges, first_transaction, "
        "last_transaction, trading_partner_id",
    "gold_data_quality_metrics": "processing_date, transaction_type, total_transactions, "
        "average_quality_score, min_quality_score, max_quality_score, high_quality_count, "
        "medium_quality_count, low_quality_count, unique_files, unique_senders, "
        "unique_receivers, high_quality_percentage, medium_quality_percentage, "
        "low_quality_percentage",
    "gold_eligibility_analytics": "processing_date, transaction_type, sender_id, "
        "receiver_id, quality_score, total_inquiries, total_benefits, "
        "unique_service_types, unique_coverage_levels",
    "gold_claim_status_analytics": "processing_date, transaction_type, sender_id, "
        "receiver_id, quality_score, total_claim_statuses, total_claim_charges, "
        "total_payments, unique_status_codes",
    "gold_request_response_pairs": "corr_ref, processing_date, sender_id, receiver_id, "
        "request_control_number, request_quality, request_details, "
        "response_control_number, response_quality, response_details, pair_type",
}


def check_x12(in_dir, out_dir):
    problems = []
    p = _params(out_dir)
    con = duckdb.connect()
    landing = os.path.join(in_dir, "landing")
    landed = sorted(f for f in os.listdir(landing) if f.endswith(".x12"))
    phases = _x12_phases(in_dir)
    last = phases[-1]

    # silver = the complete transaction groups of every bronze-valid file
    want, rejected = set(), set()
    for f in landed:
        found = scan_transactions(os.path.join(landing, f))
        if found is None:
            rejected.add(f)
        else:
            want.update(found)
    # partition values come back typed; transaction types are strings
    con.sql("CREATE TABLE silver AS SELECT * REPLACE (CAST(transaction_type AS VARCHAR) "
            f"AS transaction_type) FROM {_pq(os.path.join(out_dir, 'silver'), True)}")
    got = con.sql("SELECT file_name, transaction_set_control_number FROM silver").fetchall()
    if len(got) != len(set(got)):
        problems.append(f"silver: {len(got) - len(set(got))} duplicate (file, ST) rows")
    if set(got) != want:
        problems.append(f"silver: {len(set(got))} (file, ST) pairs vs {len(want)} in the "
                        f"landing files; missing {sorted(want - set(got))[:3]}, "
                        f"unexpected {sorted(set(got) - want)[:3]}")

    # quarantine: this run's invalid files, exactly the generator's garbage
    invalid = {}
    with open(os.path.join(in_dir, "invalid.txt")) as fh:
        for line in fh:
            phase, name = line.rstrip("\n").split("\t")
            invalid.setdefault(phase, set()).add(name)
    all_invalid = set().union(*(invalid.get(ph, set()) for ph in phases))
    if rejected != all_invalid:
        problems.append(f"landing: bronze rule rejects {sorted(rejected)}, "
                        f"generator made {sorted(all_invalid)} invalid")
    quarantined = {r[0] for r in con.sql(
        "SELECT file_name FROM read_json_auto('"
        + os.path.join(out_dir, "bronze_quarantine", "*.json") + "')").fetchall()}
    if quarantined != invalid.get(last, set()):
        problems.append(f"quarantine: {sorted(quarantined)} vs the last batch's invalid "
                        f"files {sorted(invalid.get(last, set()))}")

    # ledger: every landed file exactly once
    ledger = [r[0] for r in con.sql(
        f"SELECT file_name FROM {_pq(os.path.join(out_dir, '_processed_files'))}").fetchall()]
    if len(ledger) != len(set(ledger)) or set(ledger) != set(landed):
        problems.append(f"ledger: {len(ledger)} rows, {len(set(ledger))} distinct, "
                        f"{len(landed)} landed files")

    # gold marts: full recompute over the final silver store
    con.sql("CREATE TABLE s AS SELECT * FROM silver WHERE is_valid")
    for mart, sql in X12_MARTS.items():
        cols = re.sub(r"\btransaction_type\b", "CAST(transaction_type AS VARCHAR)",
                      X12_MART_COLUMNS[mart])
        _same(con, mart, f"SELECT {cols} FROM {_pq(os.path.join(out_dir, mart), True)}",
              sql, problems)
    day = datetime.date.fromisoformat(p["day0"]) + datetime.timedelta(days=len(phases) - 1)
    _same(con, "gold_business_kpis",
          f"SELECT * EXCLUDE (created_at) FROM {_pq(os.path.join(out_dir, 'gold_business_kpis'))}",
          f"""SELECT count(*), count(DISTINCT transaction_type), count(DISTINCT sender_id),
               count(DISTINCT receiver_id), count(DISTINCT sender_id || '-' || receiver_id),
               avg(quality_score),
               count(*) FILTER (transaction_type = '837'), count(*) FILTER (transaction_type = '835'),
               count(*) FILTER (transaction_type = '834'), count(*) FILTER (transaction_type = '270'),
               count(*) FILTER (transaction_type = '271'), count(*) FILTER (transaction_type = '276'),
               count(*) FILTER (transaction_type = '277'), max(processing_timestamp),
               DATE '{day.isoformat()}'
              FROM s""", problems)

    # 997 acks of the last run: metadata and interchange text
    batch = "FULL" if last == "full" else last.upper()
    when = datetime.datetime.combine(day, datetime.time(12, 0))
    rows = con.sql(f"""SELECT sender_id, receiver_id, file_name, functional_group_number,
                        transaction_set_control_number, is_valid
                       FROM silver WHERE batch_id = '{batch}'""").fetchall()
    groups = {}
    for snd, rcv, fname, fgn, tcn, ok in rows:
        groups.setdefault((snd, rcv), []).append((fname, fgn, tcn, ok))
    want_meta, want_text = set(), {}
    for (snd, rcv), g in groups.items():
        want_meta.add((snd, rcv, f"{snd.strip()}_997_{batch}.x12", len(g),
                       tuple(sorted(x[0] for x in g))))
        tcns = [t for t, _ in sorted((x[2], x[3]) for x in g)]
        text = _ack997(snd.strip(), rcv.strip(), sorted(x[1] for x in g), tcns, when)
        want_text.setdefault(snd.strip(), []).append(text)
    got_meta = {(r[0], r[1], r[2], r[3], tuple(r[4])) for r in con.sql(
        "SELECT sender_id, receiver_id, ack_filename, file_count, processed_files FROM "
        "read_json_auto('" + os.path.join(out_dir, "acknowledgment_metadata", "*.json")
        + "')").fetchall()}
    if got_meta != want_meta:
        problems.append(f"997 metadata: {len(got_meta)} acks vs {len(want_meta)} recomputed")
    ack_dir = os.path.join(out_dir, "acknowledgments")
    got_text = {}
    for part in os.listdir(ack_dir):
        if not part.startswith("partner="):
            continue
        acc = []
        for f in sorted(os.listdir(os.path.join(ack_dir, part))):
            if f.endswith(".txt"):
                with open(os.path.join(ack_dir, part, f)) as fh:
                    for line in fh.read().splitlines():
                        acc.append(line)
                        if line.startswith("IEA*"):
                            got_text.setdefault(part[len("partner="):], []).append(
                                "\n".join(acc))
                            acc = []
    if {k: sorted(v) for k, v in got_text.items()} != \
            {k: sorted(v) for k, v in want_text.items()}:
        problems.append("997 interchanges differ from the rebuilt acknowledgments")
    return problems


# --------------------------------------------------------------- curation

def _components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in parent:
        comps.setdefault(find(x), set()).add(x)
    return comps




def check_curation(in_dir, out_dir):
    problems = []
    p = _params(out_dir)
    con = duckdb.connect()
    for name in ("frontdoor", "pairs", "clusters", "survivors", "gate", "mix", "pack"):
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM {_pq(os.path.join(out_dir, name))}")

    # every emitted pair is a same-language pair at bigram Jaccard >= threshold
    con.sql("""CREATE TABLE bg AS
        WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM frontdoor)
        SELECT doc_id, lang, list_distinct(list_transform(list_zip(w[:-2], w[2:]),
          x -> x[1] || ' ' || x[2])) AS sh FROM w""")
    bad = con.sql(f"""
        WITH j AS (SELECT p.doc_a, p.doc_b, a.lang = b.lang AS same_lang,
                    a.sh AS sa, b.sh AS sb
                   FROM pairs p JOIN bg a ON a.doc_id = p.doc_a
                   JOIN bg b ON b.doc_id = p.doc_b)
        SELECT doc_a, doc_b FROM j WHERE NOT same_lang OR
         round(len(list_intersect(sa, sb)) / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
           < {p['threshold']}""").fetchall()
    n_pairs = con.sql("SELECT count(*) FROM pairs").fetchone()[0]
    if n_pairs == 0:
        problems.append("pairs: none emitted")
    if bad:
        problems.append(f"pairs: {len(bad)} below the Jaccard threshold, e.g. {bad[:3]}")

    # one survivor per connected component of the pairs; unpaired docs survive
    pairs = con.sql("SELECT doc_a, doc_b FROM pairs").fetchall()
    survivors = [r[0] for r in con.sql("SELECT doc_id FROM survivors").fetchall()]
    surv = set(survivors)
    if len(survivors) != len(surv):
        problems.append(f"survivors: {len(survivors) - len(surv)} duplicated")
    comps = _components(pairs)
    multi = [c for c in comps.values() if len(c & surv) != 1]
    if multi:
        problems.append(f"clusters: {len(multi)} components without exactly one survivor")
    labels = dict(con.sql("SELECT doc_id, cluster_id FROM clusters").fetchall())
    if any(labels.get(x) != min(c) for c in comps.values() for x in c):
        problems.append("clusters: a label is not its component's minimum id")
    paired = set().union(*comps.values()) if comps else set()
    front = {r[0] for r in con.sql("SELECT doc_id FROM frontdoor").fetchall()}
    if (front - paired) - surv or not surv <= front:
        problems.append("survivors: unpaired front-door documents lost or foreign ids kept")
    dup_text = con.sql("""SELECT count(*) - count(DISTINCT text) FROM survivors""").fetchone()[0]
    if dup_text:
        problems.append(f"survivors: {dup_text} share their text with another survivor")

    # mix: per source, the admitted documents in hash order while the running
    # token sum stays within the source's budget
    budgets = p["budgets"]
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in budgets.items())
    want = {r[0] for r in con.sql(f"""
        SELECT doc_id FROM (
          SELECT doc_id, source, sum(n_tokens) OVER (PARTITION BY source
            ORDER BY md5(source || '|' || CAST(doc_id AS VARCHAR)), doc_id) AS cum
          FROM gate WHERE admitted)
        WHERE cum <= CASE source {cases} ELSE {p['default_budget']} END""").fetchall()}
    got = [r[0] for r in con.sql("SELECT doc_id FROM mix").fetchall()]
    if len(got) != len(set(got)) or set(got) != want:
        problems.append(f"mix: {len(got)} documents vs {len(want)} within the budgets")

    # pack: every token placed once, contiguously, sequences never overfilled
    seq = p["seq_len"]
    rows = con.sql("""SELECT p.doc_id, p.n_tokens, start_offset, first_seq, last_seq, n_seqs
                      FROM pack p ORDER BY start_offset, doc_id""").fetchall()
    mix_tokens = con.sql("SELECT sum(n_tokens), count(*) FROM mix").fetchone()
    off, ok = 0, len(rows) == mix_tokens[1]
    for doc, n, start, first, last, nseq in rows:
        ok &= start == off and first == start // seq and \
            last == (start + max(n, 1) - 1) // seq and nseq == last - first + 1
        off = start + n
    if not ok or off != mix_tokens[0]:
        problems.append(f"pack: {len(rows)} documents, {off} tokens placed vs "
                        f"{mix_tokens[1]} documents, {mix_tokens[0]} tokens in the mix")
    return problems


# -------------------------------------------------------------- retrieval

def check_retrieval(in_dir, out_dir):
    problems = []
    p = _params(out_dir)
    con = duckdb.connect()
    k, nq = p["k"], p["queries"]
    ids, embs = zip(*con.sql(
        f"SELECT vec_id, emb FROM {_pq(os.path.join(in_dir, 'embeddings'))} ORDER BY vec_id"
    ).fetchall())
    ids = np.array(ids)
    x = np.array(embs, dtype=np.float64)
    unit = x / np.linalg.norm(x, axis=1, keepdims=True)

    # full-probe IVF top-k = exact cosine top-k (ties by id)
    got = {}
    for q, r, n in con.sql(f"""SELECT query_id, rank, neighbor_id
            FROM {_pq(os.path.join(out_dir, 'fullprobe'))}""").fetchall():
        got.setdefault(q, {})[r] = n
    bad = 0
    for qi in np.nonzero(ids < nq)[0]:
        cos = unit @ unit[qi]
        cos[qi] = -np.inf
        order = np.lexsort((ids, -cos))[:k]
        want = [int(ids[j]) for j in order]
        have = [got.get(int(ids[qi]), {}).get(r) for r in range(1, k + 1)]
        if have != want:
            pos = {int(v): j for j, v in enumerate(ids)}
            # a swap between candidates whose cosines tie to 1e-12 is no error
            if None in have or not np.allclose(
                    [cos[pos[h]] for h in have], cos[order], rtol=0, atol=1e-12):
                bad += 1
    if bad or len(got) != nq:
        problems.append(f"fullprobe: {bad} of {nq} queries differ from exact top-{k}")

    # recall never drops as nprobe grows; sweep shapes are whole
    rec = con.sql(f"""SELECT nprobe, recall, sum_k FROM
        {_pq(os.path.join(out_dir, 'nprobe_sweep'))} ORDER BY nprobe""").fetchall()
    if len(rec) != p["max_nprobe"] or any(b[1] < a[1] for a, b in zip(rec, rec[1:])) \
            or any(r[2] != nq * k for r in rec):
        problems.append(f"nprobe sweep: recall not non-decreasing or incomplete: {rec}")
    dims = con.sql(f"""SELECT out_dim, recall, sum_k FROM
        {_pq(os.path.join(out_dir, 'dim_sweep'))} ORDER BY out_dim""").fetchall()
    if [d[0] for d in dims] != sorted(p["out_dims"]) or \
            any(not 0 <= d[1] <= 1 or d[2] != nq * k for d in dims):
        problems.append(f"projection sweep: incomplete or out of range: {dims}")

    # residual IVF-PQ: k ranked neighbours per query, distances ascending
    ivf = con.sql(f"""SELECT query_id, list(adc ORDER BY rank), list(rank ORDER BY rank)
        FROM {_pq(os.path.join(out_dir, 'ivfpq'))} GROUP BY 1""").fetchall()
    if len(ivf) != nq or any(r[2] != list(range(1, k + 1)) or r[1] != sorted(r[1])
                             for r in ivf):
        problems.append("ivfpq: a query lacks k ranked neighbours in distance order")

    # BM25 top-k recomputed with the same integer-quantized scoring
    docs = _pq(os.path.join(in_dir, "bm25_docs"))
    _same(con, "bm25", f"SELECT query_id, rank, doc_id, bm25q FROM "
          f"{_pq(os.path.join(out_dir, 'bm25'))}", f"""
        WITH d AS (SELECT _1 AS doc_id, string_split(_2, ' ') AS sp FROM {docs}),
        nn AS (SELECT count(*) AS nd, sum(len(sp)) AS tt FROM d),
        tok AS (SELECT doc_id, unnest(sp) AS token, len(sp) AS dl FROM d),
        tf AS (SELECT doc_id, token, count(*) AS tf, max(dl) AS dl FROM tok GROUP BY 1, 2),
        dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        qt AS (SELECT DISTINCT doc_id AS query_id, unnest(sp) AS token FROM d
               WHERE doc_id < {p['bm25_queries']}),
        sc AS (SELECT qt.query_id, tf.doc_id,
          ((22 * nn.tt * tf.tf * 1024) // (10 * nn.tt * tf.tf + 3 * nn.tt + 9 * nn.nd * tf.dl))
          * (((2 * nn.nd - 2 * dfc.df + 1) * 1024) // (2 * dfc.df + 1)) AS contrib
          FROM tf JOIN qt USING (token) JOIN dfc USING (token), nn),
        agg AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS bm25q
          FROM sc GROUP BY 1, 2)
        SELECT query_id, rank, doc_id, bm25q FROM (
          SELECT query_id, row_number() OVER (PARTITION BY query_id
            ORDER BY bm25q DESC, doc_id) AS rank, doc_id, bm25q FROM agg)
        WHERE rank <= {k}""", problems)
    return problems


CHECKS = {"x12": check_x12,
          "operators": lambda i, o: check_curation(i, o) + check_retrieval(i, o)}


def check(workload, in_dir, out_dir):
    try:
        return CHECKS[workload](in_dir, out_dir)
    except Exception as e:  # a missing or unreadable output is a failed check
        return [f"{workload}: check could not run: {type(e).__name__}: {e}"]
