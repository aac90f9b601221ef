#!/usr/bin/env python3
"""Per-label Spark job counts from an event log.

Reads a Spark event log (one JSON event per line; plain, or zstd-compressed
through the `zstd` CLI when the name ends in .zst/.zstd) and prints, per
`spark.job.description` and per `perfbench.span`, the number of jobs, their
busy time (the union of their intervals) and their inter-job gap (first start
to last end, minus the busy time).

Write an event log with any program run, for example the service-path bench:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev" \\
      python3 perfbench/run.py --workload index_lifecycle --seed 1 --seconds 20 --trace 1
    log=$(ls -t /tmp/ev/*/events_* | head -1) # the newest application's log
    python3 tools/joblog.py "$log"                # every label in full
    python3 tools/joblog.py --span 3 "$log"       # the jobs of one traced span

(Spark writes each application's log as a directory of `events_*` files;
a log under 128 MB is one file. A first run of a new bench build also logs
the short run that records its class-data archive: take the newest log.)

`perfbench.span` is the id of the traced span that submitted a job (set on
`--trace 1` runs only). Jobs with no description count as `<unlabelled>`;
jobs with no span as `<none>`.
"""
import argparse
import json
import subprocess
import sys


def _lines(path):
    if path.endswith((".zst", ".zstd")):
        # a log whose application was killed ends in a cut frame: zstd
        # fails on it after writing everything before the cut
        out = subprocess.run(["zstd", "-dc", path], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL).stdout
        yield from out.decode("utf-8", errors="replace").splitlines()
    else:
        with open(path, encoding="utf-8") as f:
            yield from f


def jobs(lines):
    """(description, span, start ms, end ms) of every finished job."""
    started = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            e = json.loads(line)
        except json.JSONDecodeError:  # the cut last line of a killed run
            continue
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            started[e["Job ID"]] = (props.get("spark.job.description") or "<unlabelled>",
                                    props.get("perfbench.span") or "<none>",
                                    e["Submission Time"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            desc, span, t0 = started.pop(e["Job ID"])
            yield desc, span, t0, e["Completion Time"]


def busy_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0, None
    for s, t in sorted(intervals):
        if end is None or s > end:
            total += t - s
            end = t
        elif t > end:
            total += t - end
            end = t
    return total


def summarize(found, key):
    """(jobs, busy ms, gap ms, name) per group, most jobs first."""
    groups = {}
    for j in found:
        groups.setdefault(key(j), []).append((j[2], j[3]))
    rows = []
    for name, iv in groups.items():
        busy = busy_ms(iv)
        rows.append((len(iv), busy, max(t for _, t in iv) - min(s for s, _ in iv) - busy, name))
    return sorted(rows, key=lambda r: (-r[0], r[3]))


def render(found):
    (total,) = summarize(found, lambda j: "") or [(0, 0, 0, "")]
    out = [f"jobs {total[0]}  busy_ms {total[1]}  gap_ms {total[2]}"]
    for title, key in (("spark.job.description", lambda j: j[0]),
                       ("perfbench.span", lambda j: j[1])):
        out.append("")
        out.append(f"{'jobs':>5} {'busy_ms':>9} {'gap_ms':>9}  {title}")
        for n, busy, gap, name in summarize(found, key):
            out.append(f"{n:>5} {busy:>9} {gap:>9}  {name}")
    return "\n".join(out)


def _self_test():
    def start(i, t, desc=None, span=None):
        props = {k: v for k, v in (("spark.job.description", desc), ("perfbench.span", span)) if v}
        return json.dumps({"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": t,
                           "Properties": props})

    def end(i, t):
        return json.dumps({"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": t})
    log = [start(0, 0, "sink:swap:a", "7"), end(0, 10), start(1, 5, "sink:swap:a", "7"), end(1, 20),
           start(2, 50, None, None), end(2, 60), json.dumps({"Event": "SparkListenerStageSubmitted"}),
           start(3, 70, "erase:hold")]
    found = list(jobs(log))
    assert summarize(found, lambda j: "") == [(3, 30, 30, "")], found
    assert summarize(found, lambda j: j[0]) == [(2, 20, 0, "sink:swap:a"),
                                                (1, 10, 0, "<unlabelled>")]
    assert [g[3] for g in summarize(found, lambda j: j[1])] == ["7", "<none>"]
    assert busy_ms([(0, 10), (20, 30)]) == 20 and busy_ms([]) == 0
    assert render([]).startswith("jobs 0  busy_ms 0  gap_ms 0")
    print("joblog self-test ok")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log", nargs="?", help="event log file")
    ap.add_argument("--span", help="only jobs of this perfbench.span id")
    ap.add_argument("--self-test", action="store_true", help="check the tool on a synthetic log")
    a = ap.parse_args(argv)
    if a.self_test:
        _self_test()
        return 0
    if not a.log:
        ap.error("no event log given")
    found = [j for j in jobs(_lines(a.log)) if not a.span or j[1] == a.span]
    print(render(found))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
