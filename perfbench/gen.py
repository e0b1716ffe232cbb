"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of the seed and the size constants in
run.py: the program under test sees only the files written here, and the
planted counts returned alongside them are what the output checks compare
against. Generation runs in this (single-threaded) Python process before
the JVM starts, so it is never part of a timed interval.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The four validation rules, one planted failure each. A KO row fails
# exactly one of them, so the per-code KO counts are known exactly.
RULE_CODES = ["name-notNull", "office-notEmpty", "email-matchesRegex", "code-minLength"]
OFFICES = ["lisbon", "porto", "madrid", "paris", "berlin", "london", "dublin"]
FIRST = ["ana", "rui", "eva", "joao", "marta", "luis", "ines", "tiago", "sara", "pedro"]
DEPTS = ["eng", "ops", "sales", "hr", "legal"]

# Explicit source schemas: the by-name union fills `dept` with NULL for
# the third source (schema drift), and no schema inference pass runs.
FULL_DDL = ("id BIGINT, ver INT, file_seq INT, name STRING, age BIGINT, "
            "office STRING, email STRING, code STRING, dept STRING")
DRIFT_DDL = ("id BIGINT, ver INT, file_seq INT, name STRING, age BIGINT, "
             "office STRING, email STRING, code STRING")


class Plan:
    """Running totals of what was planted, for the output checks."""

    def __init__(self):
        self.rows = 0
        self.ok = 0
        self.ok_id_sum = 0
        self.ko = 0
        self.ko_id_sum = 0
        self.ko_by_code = {c: 0 for c in RULE_CODES}

    def as_dict(self):
        return {"rows": self.rows, "ok": self.ok, "ok_id_sum": self.ok_id_sum,
                "ko": self.ko, "ko_id_sum": self.ko_id_sum,
                "ko_by_code": self.ko_by_code}


def person_rows(rng, plan, next_id, n, file_seq, with_dept, ko_share, dup_share, filter_share):
    """`n` rows for one file. Duplicates copy an earlier OK row of the SAME
    file (same id, ver=1), so per-micro-batch dedup removes them whatever
    the batching; filtered rows are valid but under 18."""
    rows, ok_rows = [], []
    for _ in range(n):
        u = rng.random()
        if ok_rows and u < dup_share:
            d = dict(rng.choice(ok_rows))
            d["ver"] = 1
            rows.append(d)
            continue
        i = next_id
        next_id += 1
        r = {"id": i, "ver": 0, "file_seq": file_seq,
             "name": f"{rng.choice(FIRST)}{i}", "age": rng.randint(18, 80),
             "office": rng.choice(OFFICES), "email": f"user{i}@mail.com",
             "code": f"C{rng.randint(1000, 99999)}"}
        if with_dept:
            r["dept"] = rng.choice(DEPTS)
        if u < dup_share + ko_share:
            k = rng.randrange(4)
            if k == 0:
                r["name"] = None
            elif k == 1:
                r["office"] = ""
            elif k == 2:
                r["email"] = f"user{i}-at-mail"
            else:
                r["code"] = "C1"
            plan.ko += 1
            plan.ko_id_sum += i
            plan.ko_by_code[RULE_CODES[k]] += 1
        elif u < dup_share + ko_share + filter_share:
            r["age"] = rng.randint(1, 17)
        else:
            plan.ok += 1
            plan.ok_id_sum += i
            ok_rows.append(r)
        rows.append(r)
    plan.rows += len(rows)
    return rows, next_id


def write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def dataflow(name, sources, out):
    """The metadata document: all four rules, three add_fields, one
    deduplicate and one filter_expr; OK to parquet on two paths, KO to
    JSON, all overwrite."""
    return {"dataflows": [{
        "name": name,
        "sources": sources,
        "transformations": [
            {"name": "validation", "type": "validate_fields", "params": {
                "input": "people", "validations": [
                    {"field": "name", "validations": ["notNull"]},
                    {"field": "office", "validations": ["notEmpty"]},
                    {"field": "email", "validations": ["matchesRegex:^[a-z0-9.]+@[a-z]+[.]com$"]},
                    {"field": "code", "validations": ["minLength:4"]}]}},
            {"name": "enrich", "type": "add_fields", "params": {
                "input": "validation_ok", "addFields": [
                    {"name": "name_upper", "function": "upper(name)"},
                    {"name": "age_band", "function": "cast(age div 10 as int) * 10"},
                    {"name": "dept_norm", "function": "coalesce(dept, 'none')"}]}},
            {"name": "dedup", "type": "deduplicate", "params": {
                "input": "ok_with_date", "columns": ["id"], "keepBy": "ver"}},
            {"name": "adults", "type": "filter_expr", "params": {
                "input": "ok_with_date", "expr": "age >= 18"}}],
        "sinks": [
            {"input": "ok_with_date", "name": "ok", "format": "PARQUET",
             "paths": [f"{out}/ok1", f"{out}/ok2"], "saveMode": "OVERWRITE"},
            {"input": "validation_ko", "name": "ko", "format": "JSON",
             "paths": [f"{out}/ko"], "saveMode": "OVERWRITE"}]}]}


def batch_inputs(seed, d, rows, files_per_source, ko_share, dup_share, filter_share):
    """Three JSON sources; the third lacks `dept`."""
    rng = random.Random(seed)
    plan, next_id, seq = Plan(), 0, 0
    sources = []
    per_file = rows // (3 * files_per_source)
    for s, with_dept in (("a", True), ("b", True), ("c", False)):
        sd = os.path.join(d, "in", f"src_{s}")
        os.makedirs(sd)
        for f in range(files_per_source):
            rs, next_id = person_rows(rng, plan, next_id, per_file, seq, with_dept,
                                      ko_share, dup_share, filter_share)
            write_jsonl(os.path.join(sd, f"part-{f:03d}.json"), rs)
            seq += 1
        sources.append({"name": f"src_{s}", "path": sd, "format": "JSON",
                        "schema": FULL_DDL if with_dept else DRIFT_DDL})
    meta = os.path.join(d, "dataflow.json")
    with open(meta, "w") as f:
        json.dump(dataflow("people-batch", sources, os.path.join(d, "out")), f, indent=1)
    in_bytes = sum(os.path.getsize(os.path.join(r, x))
                   for r, _, fs in os.walk(os.path.join(d, "in")) for x in fs)
    return {"metadata": meta, "plan": plan.as_dict(), "input_bytes": in_bytes}


def stream_inputs(seed, d, rate, cold_files, warm_s, window_s, drains, drain_files,
                  file_rows, ko_share, dup_share, filter_share, extra_files=0):
    """Small JSON files staged outside the watched directory, in landing
    order: `cold_files` that land together first (the cold micro-batch),
    then the scheduled files with their Poisson arrival offsets (ms from
    the schedule origin; the first `warm_s` seconds are warm-up), then
    the drain backlogs. `extra_files` more are staged for the traced
    run's local[1] drains; they are not part of the checked plan."""
    rng = random.Random(seed)
    stage = os.path.join(d, "stage")
    watch = os.path.join(d, "watch")
    os.makedirs(stage)
    os.makedirs(watch)
    plan, extra, next_id = Plan(), Plan(), 0
    # A Poisson process conditioned on its count: the count is fixed at
    # rate x span, the arrival times are uniform order statistics. Runs
    # with different seeds then offer the same load.
    span = warm_s + window_s
    offsets = sorted(int(rng.uniform(0, span) * 1000) for _ in range(int(round(rate * span))))
    n = cold_files + len(offsets) + drains * drain_files
    for i in range(n + extra_files):
        rs, next_id = person_rows(rng, plan if i < n else extra, next_id, file_rows, i, True,
                                  ko_share, dup_share, filter_share)
        write_jsonl(os.path.join(stage, f"f{i:06d}.json"), rs)
    meta = os.path.join(d, "dataflow.json")
    src = [{"name": "people", "path": watch, "format": "JSON", "schema": FULL_DDL}]
    with open(meta, "w") as f:
        json.dump(dataflow("people-stream", src, os.path.join(d, "out")), f, indent=1)
    return {"metadata": meta, "plan": plan.as_dict(), "stage": stage, "watch": watch,
            "cold_files": cold_files, "offsets_ms": offsets, "warm_ms": int(warm_s * 1000),
            "drains": drains, "drain_files": drain_files, "file_rows": file_rows}


def _word_list(rng, n):
    syl = ["ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "de", "gu", "va", "xe",
           "bo", "ri", "fa", "ze", "hu", "jo", "ly", "qu"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def corpus_inputs(seed, d, docs, vecs, dim, neardup_share, exact_share):
    """documents.parquet / embeddings.parquet with the schema of the
    reference test corpus. Near-duplicate clusters: `neardup_share` of
    the docs (vectors) are light mutations of an earlier base doc
    (vector); `exact_share` are verbatim copies."""
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = _word_list(rng, 4000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    texts, langs, sources = [], [], []
    for i in range(docs):
        u = rng.random()
        if i > 10 and u < exact_share:
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and u < exact_share + neardup_share:
            ws = texts[rng.randrange(i)].split(" ")
            for _ in range(max(1, len(ws) // 25)):
                ws[rng.randrange(len(ws))] = vocab[int(nrng.choice(len(vocab), p=zipf))]
            texts.append(" ".join(ws))
        else:
            n = rng.randint(60, 220)
            texts.append(" ".join(vocab[j] for j in nrng.choice(len(vocab), n, p=zipf)))
        langs.append("en" if rng.random() < 0.85 else rng.choice(["pt", "es", "fr"]))
        sources.append(f"src{rng.randrange(5)}")
    os.makedirs(d)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(d, "documents.parquet"))
    base = nrng.normal(0, 0.12, size=(vecs, dim)).astype(np.float32)
    for i in range(11, vecs):
        if rng.random() < neardup_share:
            base[i] = base[rng.randrange(i)] + nrng.normal(0, 0.004, size=dim).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(vecs), pa.int64()),
        "embedding": pa.array(list(base), pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 5, size=vecs), pa.int32())}),
        os.path.join(d, "embeddings.parquet"))
    return d
