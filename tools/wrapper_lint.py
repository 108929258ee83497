#!/usr/bin/env python3
"""Wrapper lint: every public def of the `graft.api.Pipelines` API and of
`graft.streaming.Streams` must be reached by the declared queries.

The oracle gate, the vacuity lint and PlanLint see only what the declared
queries run. A public def that no declared query calls is a second copy
of some capability that none of those checks covers, so fixes reach one
copy and not the other.

- `Pipelines`: the lint lists every public def of `graft/api/Pipelines.scala`
  that no other file under `src/main/scala` names as `Pipelines.<name>`
  (a qualified call, also one split across lines around the dot, or a
  single import) or in an `import graft.api.Pipelines.{...}` list.
- `Streams`: every public def of `graft/streaming/Streams.scala` must be
  named as `Streams.<name>` by a file under `graft/operators` (where the
  declared queries live), or be listed in STREAM_ONLY below with the
  reason it runs only under `readStream`. A listed def that a query
  reaches, or that no longer exists, is reported as stale.

Comments are stripped first, and a bare name is not enough: `hits`,
`pack` or `psi` also occur as local identifiers. Exits 1 on any finding.

Usage:
  python3 tools/wrapper_lint.py [--src src/main/scala]
"""
import argparse
import os
import re
import sys

PIPELINES = os.path.join("graft", "api", "Pipelines.scala")
STREAMS = os.path.join("graft", "streaming", "Streams.scala")
OPERATORS = os.path.join("graft", "operators")
DEF = re.compile(r"^  def (\w+)", re.M)
IMPORT_LIST = re.compile(r"import graft\.api\.Pipelines\.\{([^}]*)\}")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)

# Public Streams defs no declared query calls, each with the reason.
STREAM_ONLY = {
    "eventStream": "file-source readStream over prepared event parquet",
    "prepareStreamInput": "writes the stream-ready copy of the events table that eventStream reads",
    "writeBatch": "one batch-id-scoped overwrite of the foreachBatch sink",
    "idempotentParquetSink": "foreachBatch sink; a sink exists only on a streaming query",
    "toMemorySink": "memory-sink writer that drives a stream synchronously",
    "sessionCounts": "watermarked session_window count; q_stream_3 also aggregates min/max spans",
    "dedupeKeyed": "dropDuplicatesWithinWatermark (first arrival), not q_stream_5's (ts, event_id) pick",
    "clickPurchaseJoin": "watermarked stream-stream join; q_stream_9 joins on micros (Round3OpsSpec compares the two)",
    "clickPurchaseLeftJoin": "outer stream-stream join whose NULL rows wait for the watermark",
    "activityStream": "watermarked dropDuplicates on an event-time day; the batch queries use distinct",
    "hourlyLoadStream": "window(1 hour) core; q_stream_42 groups by date_trunc",
    "minuteTypeCounts": "watermarked window(1 minute) core; q_stream_15 groups by micros div",
    "typeDayCounts": "watermarked window(1 day) core; q_stream_26/39 group by micros div",
    "minuteCounts": "watermarked window(1 minute) core; q_stream_21 groups by micros div",
    "userLastDay": "complete-mode per-user max; q_stream_35's Pipelines.churnHorizons aggregates itself",
    "ohlcBars": "min_by/max_by bars; q_time_3 picks by rank windows",
    "sessionize": "flatMapGroupsWithState sessionizer, the batch reference of sessionizeStream",
    "sessionizeStream": "stateful: EventTimeTimeout session state",
    "transitionsStream": "stateful: watermark-finalized per-user transition buffer",
    "attributionStream": "stateful: watermark-finalized per-user last touch",
    "rateAnomalyStream": "stateful: per-type online minute statistics",
    "entropyStream": "stateful: per-user event-type counts (update mode)",
    "botScreenStream": "stateful: per-user minute map (update mode)",
    "abandonmentStream": "stateful: per-user last click and later purchases",
    "dwellStream": "stateful: watermark-finalized per-user dwell buffer",
    "pathTrigramStream": "stateful: per-user last two event types",
    "rollingAnomalyStream": "stateful: watermark-finalized per-user 20-value ring",
    "rfmStream": "stateful: per-user RFM sufficient statistics",
    "funnelTouchStream": "stateful: per-user first-touch times",
}


def sources(src, keep):
    out = []
    for root, _, files in os.walk(src):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".scala") and keep(os.path.relpath(path, src)):
                out.append(COMMENT.sub("", open(path).read()))
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="src/main/scala")
    args = ap.parse_args()
    findings = 0

    pipelines = os.path.join(args.src, PIPELINES)
    names = sorted(set(DEF.findall(open(pipelines).read())))
    corpus = sources(args.src, lambda rel: os.path.normpath(rel) != PIPELINES)
    reached = set(re.findall(r"\bPipelines\s*\.\s*(\w+)", corpus))
    for group in IMPORT_LIST.findall(corpus):
        reached.update(name.strip().split(" ")[0] for name in group.split(","))
    unused = [n for n in names if n not in reached]
    for n in unused:
        print(f"UNUSED Pipelines.{n}: referenced from no other file under {args.src}")
    print(f"wrapper lint: {len(names)} public Pipelines defs, {len(names) - len(unused)} reached, "
          f"{len(unused)} unused")
    findings += len(unused)

    streams = os.path.join(args.src, STREAMS)
    names = sorted(set(DEF.findall(COMMENT.sub("", open(streams).read()))))
    queries = sources(args.src, lambda rel: rel.startswith(OPERATORS + os.sep))
    reached = set(re.findall(r"\bStreams\s*\.\s*(\w+)", queries))
    unused = [n for n in names if n not in reached and n not in STREAM_ONLY]
    stale = sorted(n for n in STREAM_ONLY if n in reached or n not in names)
    for n in unused:
        print(f"UNUSED Streams.{n}: no declared query calls it and STREAM_ONLY does not list it")
    for n in stale:
        why = "a declared query calls it" if n in names else "no such public def"
        print(f"STALE STREAM_ONLY entry {n}: {why}")
    print(f"wrapper lint: {len(names)} public Streams defs, "
          f"{len([n for n in names if n in reached])} reached by declared queries, "
          f"{len([n for n in names if n in STREAM_ONLY])} stream-only, "
          f"{len(unused)} unused, {len(stale)} stale")
    findings += len(unused) + len(stale)
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
