#!/usr/bin/env python3
"""Per-request and per-operator anatomy of a traced benchmark run.

    python3 tools/span_anatomy.py .bench_build/reports/spans-<workload>-<seed>.jsonl [...]

Reads the span, job and stage records that `perfbench/run.py --trace 1`
writes (one JSON object a line, `kind` = span | job | stage) and prints:

- for each `serve` verb (GET, GET wildcard, PUT, probe GET): the request
  count and p50 wall and, where the request's jobs are known exactly (see
  below), p50 wall before its first Spark job, p50 jobs, p50 job wall
  (sum of its jobs' walls) and p50 task ms;
- for each `ops` span (a pipeline query pass): its wall, job count, task ms
  and time with no job running, then one line per job: start offset, wall,
  gap since the latest earlier job ended (negative: the jobs overlap),
  stages, tasks, task ms, input rows, shuffle bytes and the innermost engine
  call site;
- for every other span name with jobs of its own: count, p50 wall, p50
  jobs and p50 task ms.

Jobs a span's own thread submits carry its id. Serve requests carry none
(the server's threads submit them), so jobs are tied to a request only
where its time window makes that exact:

- `probe GET`: the benchmark's quiet probes run one at a time, so every
  job starting inside the request's window is the request's;
- `PUT`: the benchmark's one writer issues its PUTs, deletes and
  compactions in turn, so a job inside a PUT's window whose innermost
  engine frame is the server's `doPut` or `TxWriter` is that PUT's.

`GET` and `GET wildcard` requests overlap each other under concurrent
clients, so the table prints only their count and p50 wall. A loaded
exact `GET` gets a job where exactly one single-task job from the
server's `doGet` starts and ends inside the request: a request that ran
a job holds its own job, so a second one inside it would be ambiguous. A
line under the table gives those GETs' count, p50 wall, p50 wall before
the job, p50 job wall and p50 task ms. (A result-cache hit runs no job,
so a hit that happens to hold another request's job is misattributed;
the report's `serve.cache_hit_ratio` bounds how often.)
"""
import json
import sys
from collections import defaultdict


PUT_SITES = ("$$doPut(", "graft.store.TxWriter$")
GET_SITE = "$$doGet("

# serve verbs whose jobs the tool can attribute exactly (see above)
EXACT = {
    "probe GET": lambda j: True,
    "PUT": lambda j: any(k in j["site"] for k in PUT_SITES),
}


def p50(xs):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def load(path):
    spans, jobs, stages = {}, {}, defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r["kind"] == "span":
                spans[r["id"]] = r
            elif r["kind"] == "job":
                jobs[r["id"]] = r
            elif r["kind"] == "stage":
                stages[r["job"]].append(r)
    return spans, jobs, stages


def attribute(spans, jobs):
    """Map span id -> its jobs: tagged jobs by tag, untagged ones to the
    serve spans in EXACT by window and call site."""
    by_span = defaultdict(list)
    free = []
    for j in jobs.values():
        (by_span[j["span"]] if j["span"] else free).append(j)
    for s in spans.values():
        fits = EXACT.get(s["name"]) if s["layer"] == "serve" else None
        if fits:
            by_span[s["id"]] += [j for j in free if fits(j)
                                 and s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
    return by_span


def loaded_gets(spans, jobs, stages):
    """Map exact-GET span id -> its job, where exactly one untagged
    single-task doGet job starts and ends inside the request."""
    single = [j for j in jobs.values() if not j["span"] and GET_SITE in j["site"]
              and sum(st["tasks"] for st in stages.get(j["id"], [])) == 1]
    out = {}
    for s in spans.values():
        if s["layer"] == "serve" and s["name"] == "GET":
            mine = [j for j in single
                    if s["start_ms"] <= j["start_ms"] and j["end_ms"] <= s["end_ms"]]
            if len(mine) == 1:
                out[s["id"]] = mine[0]
    return out


def task_ms(js, stages):
    return sum(s["task_ms"] for j in js for s in stages.get(j["id"], []))


def job_line(j, prev_end, t0, stages):
    ss = stages.get(j["id"], [])
    gap = j["start_ms"] - prev_end if prev_end is not None else 0
    site = j["site"] or "(" + j["module"] + ")"
    return (f"    job {j['id']:>5} +{j['start_ms'] - t0:>6} ms  wall {j['end_ms'] - j['start_ms']:>5}"
            f"  gap {gap:>5}  stages {len(ss):>2}  tasks {sum(s['tasks'] for s in ss):>4}"
            f"  task_ms {sum(s['task_ms'] for s in ss):>6}"
            f"  rows {sum(s['input_rows'] for s in ss):>8}"
            f"  shuf_w {sum(s['shuffle_write'] for s in ss):>8}"
            f"  shuf_r {sum(s['shuffle_read'] for s in ss):>8}  {site}")


def report(path):
    spans, jobs, stages = load(path)
    by_span = attribute(spans, jobs)
    print(f"== {path}: {len(spans)} spans, {len(jobs)} jobs, "
          f"{sum(len(v) for v in stages.values())} stages")

    verbs = defaultdict(list)
    for s in spans.values():
        if s["layer"] == "serve":
            verbs[s["name"]].append(s)
    if verbs:
        print("serve verbs (jobs only where the attribution is exact)")
        print(f"  {'verb':<14}{'n':>5}{'p50 wall':>10}{'p50 pre-job':>13}"
              f"{'p50 jobs':>10}{'p50 job wall':>14}{'p50 task ms':>13}")
        for name in sorted(verbs):
            ss = verbs[name]
            wall = p50([s["end_ms"] - s["start_ms"] for s in ss])
            if name not in EXACT:
                print(f"  {name:<14}{len(ss):>5}{wall:>10.0f}{'-':>13}"
                      f"{'-':>10}{'-':>14}{'-':>13}")
                continue
            pre, njobs, jwall, tms = [], [], [], []
            for s in ss:
                js = by_span.get(s["id"], [])
                njobs.append(len(js))
                tms.append(task_ms(js, stages))
                if js:
                    pre.append(min(j["start_ms"] for j in js) - s["start_ms"])
                    jwall.append(sum(j["end_ms"] - j["start_ms"] for j in js))
            print(f"  {name:<14}{len(ss):>5}{wall:>10.0f}{p50(pre):>13.0f}"
                  f"{p50(njobs):>10.1f}{p50(jwall):>14.0f}{p50(tms):>13.0f}")
        gets = loaded_gets(spans, jobs, stages)
        if verbs.get("GET"):
            ss = [spans[i] for i in gets]
            print(f"  loaded GET, one doGet job attributed: {len(ss)} of "
                  f"{len(verbs['GET'])}, p50 wall "
                  f"{p50([s['end_ms'] - s['start_ms'] for s in ss]):.0f}, "
                  f"pre-job {p50([gets[s['id']]['start_ms'] - s['start_ms'] for s in ss]):.0f}, "
                  f"job wall {p50([gets[s['id']]['end_ms'] - gets[s['id']]['start_ms'] for s in ss]):.0f}, "
                  f"task ms {p50([task_ms([gets[s['id']]], stages) for s in ss]):.0f}")

    ops = sorted((s for s in spans.values() if s["layer"] == "ops"),
                 key=lambda s: s["start_ms"])
    for s in ops:
        js = sorted(by_span.get(s["id"], []), key=lambda j: j["start_ms"])
        # time with no job running (adaptive execution runs independent
        # stages' jobs concurrently, so job walls overlap)
        idle, reach = 0, s["start_ms"]
        for j in js:
            idle += max(0, j["start_ms"] - reach)
            reach = max(reach, j["end_ms"])
        idle += max(0, s["end_ms"] - reach)
        print(f"ops {s['name']} ({s['id']}): wall {s['end_ms'] - s['start_ms']} ms, "
              f"{len(js)} jobs, task {task_ms(js, stages)} ms, "
              f"no job running {idle} ms")
        prev = None
        for j in js:
            print(job_line(j, prev, s["start_ms"], stages))
            prev = j["end_ms"] if prev is None else max(prev, j["end_ms"])

    other = defaultdict(list)
    for s in spans.values():
        if s["layer"] not in ("serve", "ops") and by_span.get(s["id"]):
            other[(s["layer"], s["name"])].append(s)
    if other:
        print("other spans with jobs")
        for (layer, name), ss in sorted(other.items()):
            print(f"  {layer}/{name}: n {len(ss)}, "
                  f"p50 wall {p50([s['end_ms'] - s['start_ms'] for s in ss]):.0f} ms, "
                  f"p50 jobs {p50([len(by_span[s['id']]) for s in ss]):.1f}, "
                  f"p50 task {p50([task_ms(by_span[s['id']], stages) for s in ss]):.0f} ms")


def main(argv):
    if len(argv) < 2 or argv[1] in ("-h", "--help"):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in argv[1:]:
        report(path)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
