#!/usr/bin/env python3
"""Seeded input generator for the graft benchmark.

    python3 perfbench/gen.py --seed 7 --out DIR [--workload NAME]

Writes, under DIR, one sub-directory per workload:

  fts/       FTS-style error corpus with planted category ids
             docs.parquet (doc_id, text), truth.parquet (doc_id, template_id;
             -1 marks a blank message)
  curate/    curation corpus with planted exact, near and semantic duplicates
             docs.parquet (doc_id, text), vecs.parquet (doc_id, vec),
             queries.parquet (query_id, vec), truth_exact.parquet
             (doc_id, group_id), truth_near.parquet (id_a, id_b: every pair
             whose shingle Jaccard is >= 0.8)
  stream/    Rucio-style error events as JSON-lines micro-batch files
             batch_NNNNN.jsonl, truth_late.parquet (seq of each event that is
             planted beyond the watermark)
  events/    Rucio-style event log, rucio_events.parquet; truth.parquet
             (failed_events: the number of transfer- and deletion-failed rows)

The same seed gives byte-identical files; another seed gives other files.
The program under test reads only docs/vecs/queries/events/batch files; the
truth files are read by the benchmark's own checks.
"""
import argparse
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The FTS corpus and the event log take their shape from the reference
# corpus (BASELINE.md "Corpus cardinalities", SURVEY.md "Issues table"):
# 2,826 messages of which 589 are distinct, 340 categories, 38 blank after
# cleaning, 90 source and 92 destination sites. 2,826 is above the
# flagship's default curveCap (2,000) and below its fitCap (20,000).
FTS_DOCS = 2826
FTS_DISTINCT = 589       # distinct texts, the four blank forms included
FTS_CATEGORIES = 340
FTS_BLANKS = 38
BLANK_FORMS = ["", " ", "   ", "\t"]
SRC_SITES, DST_SITES = 90, 92
CUR_BASE = 1200
CUR_EXACT_SRC = 120      # base docs that get 1-3 exact copies
CUR_NEAR_SRC = 160       # base docs that get 1-2 edited copies
CUR_HOT = 3              # hot templates that crowd the LSH buckets
CUR_HOT_DOCS = 100
CUR_SEM_SRC = 120        # vectors that get a near-identical copy
VEC_DIM = 32
ANN_QUERIES = 100
STREAM_FILES = 100
STREAM_EVENTS = 100      # events per micro-batch file
EVENTS_ROWS = 12000
NEAR_THRESHOLD = 0.8
SHINGLE, STRIDE = 8, 4   # Dedup.nearDupPairs defaults

SITES = ["CERN-PROD", "BNL-ATLAS", "TRIUMF-LCG2", "FZK-LCG2", "IN2P3-CC",
         "INFN-T1", "NDGF-T1", "PIC", "RAL-LCG2", "SARA-MATRIX", "TAIWAN-LCG2",
         "MWT2", "AGLT2", "SWT2_CPB", "NET2", "DESY-HH", "DESY-ZN", "LRZ-LMU",
         "MPPMU", "WUPPERTALPROD", "UKI-NORTHGRID-MAN-HEP", "UKI-SCOTGRID-GLASGOW",
         "UKI-LT2-QMUL", "IFIC-LCG2", "IFAE", "CA-SFU-T2", "CA-VICTORIA-WESTGRID-T2",
         "TOKYO-LCG2", "AUSTRALIA-ATLAS", "PRAGUELCG2", "FMPhI-UNIBA", "IL-TAU-HEP",
         "TECHNION-HEP", "WEIZMANN-LCG2", "RU-PROTVINO-IHEP", "JINR-T2", "GRIF-LAL",
         "GRIF-IRFU", "GRIF-LPNHE", "LAPP", "CPPM", "LPSC", "UNI-FREIBURG",
         "GOEGRID", "PSNC", "CYFRONET-LCG2", "RO-07-NIPNE", "ZA-WITS-CORE",
         "SiGNET", "BEIJING-LCG2", "CSCS-LCG2", "UNIBE-LHEP", "LIP-LISBON", "NCG-INGRID-PT",
         "UAM-LCG2", "IFCA-LCG2", "INFN-NAPOLI-ATLAS", "INFN-MILANO-ATLASC", "INFN-ROMA1",
         "INFN-FRASCATI", "HEPHY-UIBK", "DESY-ZN-CLOUD", "UNI-BONN", "UNI-DORTMUND",
         "UNI-SIEGEN", "TUDRESDEN-ZIH", "BUDAPEST", "IEPSAS-KOSICE", "AM-04-YERPHI",
         "TR-10-ULAKBIM", "EELA-UTFSM", "UNLP", "SAMPA", "BU_ATLAS_TIER2", "OU_OCHEP_SWT2",
         "UTA_SWT2", "SLACXRD", "WT2", "UCT3", "IU_OSG", "UIUC", "LUCILLE",
         "CA-MCGILL-CLUMEQ-T2", "SFU-LCG2", "Australia-T2", "NIKHEF-ELPROD", "SURFSARA",
         "BEIJING-TIANHE", "HK-LCG2", "KR-KISTI-GSDC", "RRC-KI-T1", "ITEP"]
SPACES = ["DATADISK", "SCRATCHDISK", "LOCALGROUPDISK", "TAPE", "MCTAPE"]


def rng_for(seed, part):
    return random.Random(f"{seed}:{part}")


# --------------------------------------------------------------------------
# FTS-style messages: fixed wording per template, variable hosts, paths,
# UUIDs, line numbers and counters (what Clean.cleanMessage masks, plus
# what it does not).
FTS_TEMPLATES = [
    "TRANSFER globus_ftp_client: the server responded with an error 530 Login incorrect. : "
    "globus_gss_assist: Error invoking callout on {host}",
    "DESTINATION OVERWRITE srm-ifce err: Communication error on send, err: [SE][srmRm][] "
    "httpg://{host}:8446/srm/managerv2: CGSI-gSOAP running on {host2} reports could not open "
    "connection to {host}:8446",
    "SOURCE CHECKSUM MISMATCH User defined checksum and source checksum do not match {hex8} != {hex8b}",
    "TRANSFER Operation timed out after {n} seconds with {big} bytes received from {host}",
    "DESTINATION MAKE_PARENT Failed to create parent directory davs://{host}:443{path} at line {line}",
    "SOURCE SRM_GET_TURL srm-ifce err: Communication error on send, err: [SE][StatusOfGetRequest]"
    "[SRM_FAILURE] httpg://{host}:8443/srm/managerv2 File is unavailable",
    "No such file or directory: srm://{host}{path} request {uuid}",
    "Connection refused while contacting {host} port {port} at line {line}",
    "DESTINATION SRM_PUT_TURL error on the turl request : [SE][PrepareToPut][SRM_NO_FREE_SPACE] "
    "No free space on {space} at {site} for {big} bytes",
    "TRANSFER ERROR: Copy failed with mode 3rd pull, with error: Transfer failed: failure: "
    "Server returned nothing, reading {path}",
    "SOURCE [2] Result HTTP 404 : File not found  after {n} attempts on {host}",
    "DESTINATION CHECKSUM MISMATCH Source and destination checksums do not match {hex8} != {hex8b}",
    "TRANSFER  Transfer canceled because the gsiftp performance marker timeout of {n} seconds "
    "has been exceeded, or all performance markers during that period indicated zero bytes transferred",
    "Stage-in failed: the tape system on {site} reported Error in tape recall for request {uuid}",
    "DESTINATION [70] Result Unable to create the directory {path} on {host}: permission denied",
    "SOURCE [113] Result gfal_posix_stat: No route to host {host} retries {n}",
    "TRANSFER [62] TRANSFER ERROR: Copy failed with mode 3rd push, with error: copy: Bad message "
    "from {host} token {uid}",
    "Deletion failed on {site} {space}: The requested service is not available at the moment. "
    "Details: An unknown exception occurred on {host}",
    "SOURCE [28] Result Timeout of {n} seconds has been exceeded while waiting for {host} "
    "in session {uuid}",
    "DESTINATION [17] Result srm-ifce err: File exists, err: [SE][srmMkdir][SRM_DUPLICATION_ERROR] "
    "{path} already exists on {site}",
]


def hostname(r):
    return f"{r.choice(['se', 'srm', 'dcdoor', 'eosatlas', 'gridftp', 'webdav'])}{r.randint(1, 60):02d}." \
           f"{r.choice(['cern.ch', 'bnl.gov', 'gridka.de', 'in2p3.fr', 'cnaf.infn.it', 'triumf.ca', 'ndgf.org', 'pic.es'])}"


def hexs(r, n):
    return "".join(r.choice("0123456789abcdef") for _ in range(n))


def alnum(r, n):
    return "".join(r.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


def uuid4(r):
    return f"{hexs(r, 8)}-{hexs(r, 4)}-4{hexs(r, 3)}-{r.choice('89ab')}{hexs(r, 3)}-{hexs(r, 12)}"


def lfn_path(r):
    proj = r.choice(["mc16_13TeV", "data18_13TeV", "mc20_13TeV", "data22_13p6TeV"])
    return f"/eos/atlas/atlas{r.choice(SPACES).lower()}/rucio/{proj}/{hexs(r, 2)}/{hexs(r, 2)}/" \
           f"{r.choice(['EVNT', 'AOD', 'DAOD_PHYS', 'HITS'])}.{r.randint(10**7, 10**8 - 1)}._{r.randint(1, 999999):06d}" \
           f".pool.root.{r.randint(1, 3)}"


def fill_fts(template, r, site=None):
    vals = {
        "host": hostname(r), "host2": hostname(r), "hex8": hexs(r, 8), "hex8b": hexs(r, 8),
        "n": str(r.randint(2, 3600)), "big": str(r.randint(10**5, 10**10)), "path": lfn_path(r),
        "line": str(r.randint(1, 4000)), "uuid": uuid4(r), "port": str(r.choice([443, 1094, 2811, 8443, 8446])),
        "space": r.choice(SPACES), "site": site or r.choice(SITES), "uid": alnum(r, r.randint(12, 40)),
    }
    return template.format(**vals)


def fts_shape():
    """Rows and distinct messages per category: Zipf(1) rows (at least one
    each); one distinct message per category plus the rest in proportion to
    rows. Fixed, so seeds vary the messages, not the shape."""
    nonblank = FTS_DOCS - FTS_BLANKS
    w = [1.0 / (i + 1) for i in range(FTS_CATEGORIES)]
    rows = [max(1, int(nonblank * x / sum(w))) for x in w]
    rows[0] += nonblank - sum(rows)
    extra = FTS_DISTINCT - len(BLANK_FORMS) - FTS_CATEGORIES
    distinct = [1 + min(n - 1, int(extra * n / nonblank)) for n in rows]
    left = FTS_DISTINCT - len(BLANK_FORMS) - sum(distinct)
    for c in range(left):          # one more each for the largest categories
        distinct[c] += 1
    return rows, distinct


def gen_fts(seed, out):
    """Category c is base template c % 20 at a site fixed per category; its
    distinct messages vary hosts, paths, UUIDs, line numbers and counters,
    and each is repeated (the reference corpus is 79% duplicates)."""
    r = rng_for(seed, "fts")
    sites = r.sample(SITES, FTS_CATEGORIES // len(FTS_TEMPLATES) + 1)
    rows_per, distinct_per = fts_shape()
    seen, rows = set(), []
    for c, (n, d) in enumerate(zip(rows_per, distinct_per)):
        site = sites[c // len(FTS_TEMPLATES)]
        template = FTS_TEMPLATES[c % len(FTS_TEMPLATES)]
        if "{site}" not in template:
            template += " at {site}"
        msgs = []
        while len(msgs) < d:
            m = fill_fts(template, r, site)
            if m not in seen:
                seen.add(m)
                msgs.append(m)
        rows += [(m, c) for m in msgs] + [(r.choice(msgs), c) for _ in range(n - d)]
    rows += [(BLANK_FORMS[i % len(BLANK_FORMS)], -1) for i in range(FTS_BLANKS)]
    r.shuffle(rows)
    d = os.path.join(out, "fts")
    os.makedirs(d, exist_ok=True)
    ids = pa.array(range(len(rows)), pa.int64())
    write(pa.table({"doc_id": ids, "text": pa.array([t for t, _ in rows], pa.string())}),
          os.path.join(d, "docs.parquet"))
    write(pa.table({"doc_id": ids, "template_id": pa.array([k for _, k in rows], pa.int32())}),
          os.path.join(d, "truth.parquet"))


# --------------------------------------------------------------------------
# Curation corpus.
def shingles(text):
    norm = " ".join(text.lower().split())
    return {norm[i:i + SHINGLE] for i in range(0, max(len(norm) - (SHINGLE - 1), 1), STRIDE)}


def jaccard(a, b):
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def vocabulary(r, n):
    words = set()
    while len(words) < n:
        words.add("".join(r.choice("etaoinshrdlucmfwypvbgkqjxz"[:r.randint(8, 26)])
                          for _ in range(r.randint(2, 10))))
    return sorted(words)


def gen_curate(seed, out):
    r = rng_for(seed, "curate")
    vocab = vocabulary(r, 4000)
    by_len = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)
    zipf = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]
    cum = list(np.cumsum(zipf))

    def words(n):
        return r.choices(vocab, cum_weights=cum, k=n)

    docs, family = [], []          # family: planted near-dup family id per doc
    for i in range(CUR_BASE):
        docs.append(" ".join(words(r.randint(60, 100))))
        family.append(i)
    fam_next = CUR_BASE
    for src in r.sample(range(CUR_BASE), CUR_EXACT_SRC):
        for _ in range(r.randint(1, 3)):
            # case and whitespace differences normalize away in the fingerprint
            t = docs[src]
            docs.append(t.upper() if r.random() < 0.3 else t.replace(" ", "  ", 1))
            family.append(family[src])
    for src in r.sample(range(CUR_BASE), CUR_NEAR_SRC):
        for _ in range(r.randint(1, 2)):
            ws = docs[src].split(" ")
            for _ in range(r.randint(1, 2)):
                j = r.randrange(len(ws))
                # same length keeps shingle alignment; a different word keeps the copy distinct
                ws[j] = r.choice([w for w in by_len[len(ws[j])] if w != ws[j]] or [ws[j] + "x"])
            docs.append(" ".join(ws))
            family.append(family[src])
    for h in range(CUR_HOT):
        body = words(70)
        slots = sorted(r.sample(range(70), 8))
        for k in range(CUR_HOT_DOCS):
            ws = list(body)
            for j in slots:
                ws[j] = r.choice(by_len[len(ws[j])])
            docs.append(" ".join(ws) + f" ref {h}{k:05d}")
            family.append(fam_next)
        fam_next += 1

    order = list(range(len(docs)))
    r.shuffle(order)
    docs = [docs[i] for i in order]
    family = [family[i] for i in order]
    n = len(docs)

    # exact groups: docs whose lowercased, whitespace-normalized text is equal,
    # labelled by their lowest doc id (Dedup.exactDedupKeepers' keep_id)
    low = {}
    for i, t in enumerate(docs):
        low.setdefault(" ".join(t.lower().split()), i)
    # every within-family pair at or above the threshold; cross-family pairs
    # share no planted text and stay far below it
    members = {}
    for i, f in enumerate(family):
        members.setdefault(f, []).append(i)
    sh = [shingles(t) for t in docs]
    near = []
    for ids in members.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if jaccard(sh[a], sh[b]) >= NEAR_THRESHOLD:
                    near.append((a, b))
    near.sort()

    nr = np.random.default_rng([seed, 11])
    centers = nr.standard_normal((16, VEC_DIM))
    vec = centers[nr.integers(0, 16, n)] + 0.9 * nr.standard_normal((n, VEC_DIM))
    for src in nr.choice(n, CUR_SEM_SRC, replace=False):
        dst = int(nr.integers(0, n))
        vec[dst] = vec[src] + 0.02 * nr.standard_normal(VEC_DIM)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    q = vec[nr.choice(n, ANN_QUERIES, replace=False)] + 0.15 * nr.standard_normal((ANN_QUERIES, VEC_DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)

    d = os.path.join(out, "curate")
    os.makedirs(d, exist_ok=True)
    ids = pa.array(range(n), pa.int64())
    write(pa.table({"doc_id": ids, "text": pa.array(docs, pa.string())}), os.path.join(d, "docs.parquet"))
    write(pa.table({"doc_id": ids, "vec": vectors(vec)}), os.path.join(d, "vecs.parquet"))
    write(pa.table({"query_id": pa.array(range(ANN_QUERIES), pa.int64()), "vec": vectors(q)}),
          os.path.join(d, "queries.parquet"))
    write(pa.table({"doc_id": ids, "group_id": pa.array([low[" ".join(t.lower().split())] for t in docs],
                                                          pa.int64())}),
          os.path.join(d, "truth_exact.parquet"))
    write(pa.table({"id_a": pa.array([a for a, _ in near], pa.int64()),
                    "id_b": pa.array([b for _, b in near], pa.int64())}),
          os.path.join(d, "truth_near.parquet"))


def vectors(m):
    m = m.astype(np.float32)
    return pa.array([row for row in m.tolist()], pa.list_(pa.float32()))


# --------------------------------------------------------------------------
# Rucio-style events.
REASONS = FTS_TEMPLATES[:12]
EVENT_TYPES = ["transfer-done", "transfer-failed", "deletion-done", "deletion-failed",
               "transfer-submitted", "transfer-queued"]
EVENT_WEIGHTS = [0.55, 0.2, 0.1, 0.05, 0.05, 0.05]
T0 = dt.datetime(2026, 3, 1, tzinfo=dt.timezone.utc)


def iso(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def gen_stream(seed, out):
    """Micro-batch b covers event time [b*10min, (b+1)*10min). 10% of events
    arrive out of order (up to 30 min behind their batch, inside the 2 h
    watermark); 3% arrive late (5-8 h behind, beyond it); 5% are re-sends of
    a recent event (same event_id and event time). Batch 0 has no late
    events: before it the watermark is unset."""
    r = rng_for(seed, "stream")
    d = os.path.join(out, "stream")
    os.makedirs(d, exist_ok=True)
    seq, late, recent = 0, [], []
    for b in range(STREAM_FILES):
        base = T0 + dt.timedelta(minutes=10 * b)
        lines = []
        for _ in range(STREAM_EVENTS):
            u = r.random()
            if u < 0.05 and recent:
                ev = dict(r.choice(recent))
            else:
                is_late = 0.15 <= u < 0.18 and b > 0
                if u < 0.15:
                    ts = base - dt.timedelta(seconds=r.uniform(0, 1800))
                elif is_late:
                    ts = base - dt.timedelta(seconds=r.uniform(5 * 3600, 8 * 3600))
                    late.append(seq)
                else:
                    ts = base + dt.timedelta(seconds=r.uniform(0, 600))
                et = r.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
                failed = et.endswith("failed")
                ev = {"event_id": f"{b:05d}-{alnum(r, 10)}", "event_type": et, "ts": iso(ts),
                      "src_rse": r.choice(SITES) + "_" + r.choice(SPACES),
                      "dst_rse": r.choice(SITES) + "_" + r.choice(SPACES),
                      "reason": fill_fts(r.choice(REASONS), r) if failed else ""}
                if not is_late:
                    recent.append(ev)
                    recent[:] = recent[-200:]
            ev["seq"] = seq
            seq += 1
            lines.append(json.dumps(ev, sort_keys=True))
        with open(os.path.join(d, f"batch_{b:05d}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    write(pa.table({"seq": pa.array(late, pa.int64())}), os.path.join(d, "truth_late.parquet"))


def gen_events(seed, out):
    nr = np.random.default_rng([seed, 29])
    n = EVENTS_ROWS
    def sites(k):
        w = 1.0 / np.arange(1, k + 1) ** 0.9
        return nr.choice(k, n, p=w / w.sum())
    src = sites(SRC_SITES)
    dst = DST_SITES - 1 - sites(DST_SITES)
    etype = nr.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)
    start = 1.77e9 + np.round(nr.uniform(0, 86400, n), 3)
    dur = np.round(nr.lognormal(4.0, 1.2, n), 3)
    size = nr.integers(10**5, 10**10, n)
    reason_w = 1.0 / np.arange(1, len(REASONS) + 1) ** 1.1
    reason_w /= reason_w.sum()
    reason_i = nr.choice(len(REASONS), n, p=reason_w)
    failed = np.array([EVENT_TYPES[t].endswith("failed") for t in etype])
    # short reason labels: the per-site top-N ranks these
    reason = np.where(failed, np.array([f"R{i:02d}" for i in range(len(REASONS))])[reason_i], None)
    d = os.path.join(out, "events")
    os.makedirs(d, exist_ok=True)
    names = np.array(SITES)
    write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype].tolist(), pa.string()),
        "src_rse": pa.array(names[src].tolist(), pa.string()),
        "dst_rse": pa.array(names[dst].tolist(), pa.string()),
        "reason": pa.array(reason.tolist(), pa.string()),
        "bytes": pa.array(size.astype(np.int64)),
        "started_at": pa.array(start),
        "ended_at": pa.array(start + dur),
        "duration": pa.array(dur),
    }), os.path.join(d, "rucio_events.parquet"))
    write(pa.table({"failed_events": pa.array([int(failed.sum())], pa.int64())}),
          os.path.join(d, "truth.parquet"))


def write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


GENERATORS = {"cluster_errors": [gen_fts], "curate_corpus": [gen_curate],
              "stream_errors": [gen_stream], "event_analytics": [gen_events]}


def generate(seed, out, workload=None):
    gens = GENERATORS[workload] if workload else [g for gs in GENERATORS.values() for g in gs]
    for g in gens:
        g(seed, out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    a = ap.parse_args()
    generate(a.seed, a.out, a.workload)


if __name__ == "__main__":
    main()
