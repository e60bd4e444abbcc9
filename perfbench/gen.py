"""Seeded input generator for the pipeline benchmark.

One process, no network. The same (workload, seed) always writes
byte-identical files, so a run's inputs are fully named by its seed.

  python3 perfbench/gen.py --workload etl_backfill --seed 7 --out DIR

etl_backfill writes, per iteration `it<NNN>/` (and `warm<N>/` for warm-up):
  pages/<PROJ>_<startAt>.json  Jira search responses (FIXTURES.md A1
                               issues inside {"startAt","total","issues"})
  planted/<PROJ>_<n>.json      truncated raw page files, dropped into the
                               raw zone after extraction
  manifest.json                stub script (failures per page) and truth

store_ingest_probe writes:
  corpus/documents.parquet     doc_id, text, lang, source, n_chars
  corpus/embeddings.parquet    vec_id, embedding (64 x float), label
  probe/p<RR>/{text,vec}_<k>.jsonl
                               the micro-batches fed to the probe streams,
                               with planted near-duplicates of stored items
  manifest.json                base and batch id ranges, probe layout, truth
"""

import argparse
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROJECTS = ("HADOOP", "SPARK", "KAFKA")
PAGE = 50
DIM = 64
PROBE_ID_BASE = 10_000_000

# Sizes are fixed per workload so that seeds change content, never volume.
ETL = {"warm": 2, "iters": 8, "issues": (450, 500, 400), "truncated": 2}
STORE = {"base": 1000, "batches": 1, "batch": 300, "compact_at": 2,
         "probe_rounds": 2, "probe_batches": 16, "probe_batch": 100,
         "planted": 0.2, "tick_ns": 120 * 10**9}

WORDS = (
    "spark hadoop kafka yarn hdfs shuffle executor driver task stage job "
    "partition broker topic consumer producer offset commit checkpoint "
    "stream batch window watermark state store join filter scan sort merge "
    "hash aggregate plan optimizer codegen memory heap spill disk network "
    "timeout retry failure error exception null pointer leak slow fast "
    "latency throughput thread lock deadlock race config property default "
    "version upgrade release build test flaky unit integration docs api "
    "schema column row table parquet orc avro json csv file path directory "
    "cluster node worker master leader replica quorum metadata catalog "
    "session context query dataframe dataset rdd udf expression literal "
    "cast type decimal timestamp date string array map struct encoder "
    "serializer kryo java scala python jvm gc allocation buffer pool queue "
    "block cache eviction broadcast accumulator listener metric log trace "
    "security auth token kerberos ssl certificate permission user group "
    "admin client server request response http rest endpoint port host "
    "container pod kubernetes docker image volume resource quota limit"
).split()
TOPIC_WORDS = ["w%04d" % i for i in range(2500)]
LABELS = ("bug", "feature", "improvement", "performance", "security",
          "documentation", "starter", "pull-request-available", "flaky")
TYPES = ("Bug", "Improvement", "New Feature", "Task", "Sub-task", "Test")
STATUSES = ("Open", "In Progress", "Resolved", "Closed", "Patch Available")
PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
PEOPLE = ["Dev %s %s" % (a, b) for a in "ABCDEFGHIJ" for b in "KLMNOPQRST"]
CLASSES = ("org.apache.spark.scheduler.DAGScheduler",
           "org.apache.hadoop.hdfs.DFSClient",
           "org.apache.kafka.clients.consumer.KafkaConsumer",
           "org.apache.spark.sql.execution.SparkPlan",
           "org.apache.hadoop.yarn.client.api.impl.YarnClientImpl")


def dump(obj):
    """Canonical compact JSON (stable key order as built)."""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def sentence(rng, lo, hi):
    return " ".join(rng.choices(WORDS, k=rng.randint(lo, hi)))


def stamp(rng):
    return "2025-%02d-%02dT%02d:%02d:%02d.000+0000" % (
        rng.randint(1, 12), rng.randint(1, 28), rng.randint(0, 23),
        rng.randint(0, 59), rng.randint(0, 59))


def stack_trace(rng):
    cls = rng.choice(CLASSES)
    lines = ["java.lang.IllegalStateException: %s in %s" % (
        sentence(rng, 3, 8), cls)]
    for _ in range(rng.randint(4, 18)):
        c = rng.choice(CLASSES)
        lines.append("\tat %s.%s(%s.java:%d)" % (
            c, rng.choice(WORDS), c.rsplit(".", 1)[1], rng.randint(10, 2000)))
    return "{code:java}\n%s\n{code}" % "\n".join(lines) if rng.random() < .7 \
        else "{noformat}\n%s\n{noformat}" % "\n".join(lines)


def description(rng):
    parts = []
    for _ in range(rng.randint(1, 6)):
        s = sentence(rng, 8, 40).capitalize() + "."
        if rng.random() < 0.25:
            s += " Is this %s expected?" % rng.choice(WORDS)
        if rng.random() < 0.2:
            s += (" See https://ci-hadoop.apache.org/job/hadoop-multibranch/"
                  "job/PR-%d/%d/testReport/" % (rng.randint(1, 9999),
                                                rng.randint(1, 40)))
        parts.append(s)
    if rng.random() < 0.35:
        parts.insert(rng.randint(0, len(parts)), stack_trace(rng))
    return "\n\n".join(parts)


USERS = [{"self": "https://issues.apache.org/jira/rest/api/2/user?username="
          + n.lower().replace(" ", ""), "name": n.lower().replace(" ", ""),
          "key": n.lower().replace(" ", ""), "displayName": n,
          "active": True, "timeZone": "Etc/UTC"} for n in PEOPLE]


def person(rng):
    return rng.choice(USERS)


def comment(rng, i):
    body = sentence(rng, 5, 60)
    if rng.random() < 0.1:
        body += "\n" + stack_trace(rng)
    if rng.random() < 0.1:
        body += " https://ci-hadoop.apache.org/job/PreCommit-HDFS-Build/%d/" \
            % rng.randint(1, 99999)
    created = stamp(rng)
    return {"self": "https://issues.apache.org/jira/rest/api/2/comment/%d" % i,
            "id": str(i), "author": person(rng), "body": body,
            "updateAuthor": person(rng), "created": created,
            "updated": created}


def issue(rng, project, num, kind):
    """One issue object; kind: ok | error (transform raises) | empty | scalar."""
    if kind == "empty":
        return {}
    if kind == "scalar":
        return "malformed-%s-%d" % (project, num)
    key = "%s-%d" % (project, num)
    n_comments = min(int(rng.expovariate(1 / 3.0)), 20)
    comments = [comment(rng, num * 100 + i) for i in range(n_comments)]
    labels = rng.sample(LABELS, rng.randint(0, 3))
    if kind == "error":
        labels = labels + [None]  # classify lower-cases labels -> raises
    created = stamp(rng)
    fields = {
        "summary": ("%s %s" % (rng.choice(["Fix", "Add", "Improve", "Slow",
                                           "Support", "Remove", "Flaky"]),
                               sentence(rng, 3, 10))),
        "description": description(rng) if rng.random() < 0.93 else None,
        "created": created,
        "updated": max(created, stamp(rng)),
        "status": {"name": rng.choice(STATUSES), "id": str(rng.randint(1, 6)),
                   "statusCategory": {"id": 2, "key": "new",
                                      "name": "To Do", "colorName": "blue"}}
        if rng.random() < 0.97 else None,
        "priority": {"name": rng.choice(PRIORITIES),
                     "id": str(rng.randint(1, 5))},
        "issuetype": {"name": rng.choice(TYPES), "subtask": False},
        "resolution": None if rng.random() < 0.5 else
        {"name": "Fixed", "description": "A fix for this issue is checked in."},
        "reporter": person(rng),
        "assignee": person(rng) if rng.random() < 0.6 else None,
        "creator": person(rng),
        "project": {"key": project, "name": project.title(),
                    "projectTypeKey": "software"},
        "labels": labels,
        "components": [{"id": str(rng.randint(1, 99)),
                        "name": rng.choice(WORDS).title(),
                        "description": sentence(rng, 2, 6)}
                       for _ in range(rng.randint(0, 2))],
        "fixVersions": [{"id": str(rng.randint(1, 999)),
                         "name": "4.%d.0" % rng.randint(0, 3),
                         "archived": False, "released": rng.random() < .5}],
        "comment": {"comments": comments, "maxResults": n_comments,
                    "startAt": 0, "total": n_comments},
        "votes": {"votes": rng.randint(0, 9), "hasVoted": False},
        "watches": {"watchCount": rng.randint(0, 30), "isWatching": False},
        "workratio": -1,
        "environment": None,
        "duedate": None,
    }
    for i in range(12):
        fields["customfield_%05d" % (10000 + i)] = (
            None if rng.random() < 0.6 else sentence(rng, 1, 4))
    return {"expand": "operations,versionedRepresentations,editmeta,changelog",
            "id": str(1_000_000 + num), "self":
            "https://issues.apache.org/jira/rest/api/2/issue/%d" % num,
            "key": key, "fields": fields}


def failure_script(rng):
    """Statuses served before a page's 200: at most 2, so no page fails."""
    r = rng.random()
    n = 0 if r < 0.8 else 1 if r < 0.95 else 2
    return [rng.choice((429, 500, 502, 503)) for _ in range(n)]


def gen_etl_iteration(out, rng):
    n_truncated = ETL["truncated"]
    truth = {"projects": {}, "truncated": n_truncated}
    script = {}
    pages = []
    for project, n in zip(PROJECTS, ETL["issues"]):
        kinds = []
        for _ in range(n):
            r = rng.random()
            kinds.append("error" if r < 0.01 else "empty" if r < 0.015
                         else "scalar" if r < 0.018 else "ok")
        issues = [issue(rng, project, 1 + i, k) for i, k in enumerate(kinds)]
        for start in range(0, n, PAGE):
            body = {"expand": "schema,names", "startAt": start,
                    "maxResults": PAGE, "total": n,
                    "issues": issues[start:start + PAGE]}
            name = "%s_%d" % (project, start)
            write_text(os.path.join(out, "pages", name + ".json"), dump(body))
            script[name] = failure_script(rng)
            pages.append(issues[start:start + PAGE])
        truth["projects"][project] = {
            "records": n, "pages": (n + PAGE - 1) // PAGE,
            "error_records": kinds.count("error"),
            "empty_records": kinds.count("empty") + kinds.count("scalar")}
    for j in range(n_truncated):
        project = PROJECTS[j % len(PROJECTS)]
        page = json.dumps(rng.choice(pages), indent=2)
        cut = page[: rng.randint(len(page) // 4, 3 * len(page) // 4)]
        write_text(os.path.join(out, "planted", "%s_%d.json"
                                % (project, 900_000 + j)), cut)
    truth["requests"] = sum(1 + len(v) for v in script.values())
    write_text(os.path.join(out, "manifest.json"),
               dump({"script": script, "truth": truth}))


def gen_etl(out, seed):
    rng = random.Random("etl-%d" % seed)
    for i in range(ETL["warm"]):
        gen_etl_iteration(os.path.join(out, "warm%d" % i), rng)
    for i in range(ETL["iters"]):
        gen_etl_iteration(os.path.join(out, "it%03d" % i), rng)


def doc_text(rng):
    """30-90 words, three in five from a 2,500-word topic vocabulary."""
    n = rng.randint(30, 90)
    topic = rng.choices(TOPIC_WORDS, k=n)
    common = rng.choices(WORDS, k=n)
    return " ".join(t if rng.random() < 0.6 else c
                    for t, c in zip(topic, common))


def near_dup_text(rng, text):
    """One or two word substitutions: word-bigram Jaccard stays >= ~0.9."""
    words = text.split(" ")
    for _ in range(rng.randint(1, 2)):
        words[rng.randrange(len(words))] = rng.choice(TOPIC_WORDS)
    return " ".join(words)


def probe_dup_text(rng, text):
    """One word appended: one new word bigram, so Jaccard >= 29/30. The
    stores band MinHash 8 x 2, which misses ~0.1% of pairs at the ~0.76 a
    two-word substitution in a short doc gives; at >= 0.96 a miss is
    ~1e-9, so every planted probe is a match the store must find."""
    return text + " " + rng.choice(TOPIC_WORDS)


def unit(v):
    return (v / np.linalg.norm(v)).astype(np.float32)


def near_dup_vec(nrng, v):
    """Cosine to the source stays above 0.99."""
    return unit(v + nrng.normal(0, 0.01, DIM).astype(np.float32))


def corpus(rng, nrng, n):
    """n docs and n vectors; ~10% of each are near-dups of earlier ids."""
    texts, vecs, labels = [], [], []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            src = rng.randrange(i)
            texts.append(near_dup_text(rng, texts[src]))
            vecs.append(near_dup_vec(nrng, vecs[src]))
            labels.append(labels[src])
        else:
            texts.append(doc_text(rng))
            vecs.append(unit(nrng.normal(0, 1, DIM).astype(np.float32)))
            labels.append(int(rng.randrange(10)))
    return texts, vecs, labels


def write_corpus(out, texts, vecs, labels):
    os.makedirs(out, exist_ok=True)
    n = len(texts)
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in (("documents", docs), ("embeddings", emb)):
        pq.write_table(t, os.path.join(out, name + ".parquet"),
                       compression="snappy", use_dictionary=True)


def gen_store(out, seed):
    rng = random.Random("store-%d" % seed)
    nrng = np.random.default_rng([seed, 1])
    p = STORE
    n = p["base"] + p["batches"] * p["batch"]
    texts, vecs, labels = corpus(rng, nrng, n)
    write_corpus(os.path.join(out, "corpus"), texts, vecs, labels)
    planted = []
    for r in range(p["probe_rounds"]):
        got = {"text": [], "vec": []}
        for k in range(p["probe_batches"]):
            ts0 = (k + 1) * p["tick_ns"]
            tlines, vlines = [], []
            for j in range(p["probe_batch"]):
                pid = PROBE_ID_BASE + r * 1_000_000 + k * p["probe_batch"] + j
                ts = ts0 + j * 1000
                if rng.random() < p["planted"]:
                    src = rng.randrange(n)
                    text = probe_dup_text(rng, texts[src])
                    vec = near_dup_vec(nrng, vecs[src])
                    got["text"].append([pid, src])
                    got["vec"].append([pid, src])
                else:
                    text = doc_text(rng)
                    vec = unit(nrng.normal(0, 1, DIM).astype(np.float32))
                tlines.append(dump({"doc_id": pid, "ts": ts, "text": text}))
                vlines.append(dump({"vec_id": pid, "ts": ts, "embedding":
                                    [float(x) for x in vec]}))
            d = os.path.join(out, "probe", "p%02d" % r)
            write_text(os.path.join(d, "text_%03d.jsonl" % k),
                       "\n".join(tlines) + "\n")
            write_text(os.path.join(d, "vec_%03d.jsonl" % k),
                       "\n".join(vlines) + "\n")
        planted.append(got)
    write_text(os.path.join(out, "manifest.json"), dump({
        "base": p["base"],
        "batches": [[p["base"] + k * p["batch"], p["base"] + (k + 1) * p["batch"]]
                    for k in range(p["batches"])],
        "compact_at": p["compact_at"], "probe_rounds": p["probe_rounds"],
        "probe_batches": p["probe_batches"],
        "probe_batch_size": p["probe_batch"], "probe_id_base": PROBE_ID_BASE,
        "truth": {"ids": n, "planted": planted}}))


GENERATORS = {"etl_backfill": gen_etl, "store_ingest_probe": gen_store}


def generate(workload, seed, out):
    GENERATORS[workload](out, seed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
