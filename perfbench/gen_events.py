#!/usr/bin/env python3
"""Open-loop event generator for the ingest_live workload.

One process, one thread. Every TICK_S it publishes one JSON-lines file
into the source directory holding the events scheduled in that tick,
whether or not the ingest service has kept up. A file is written under a
`.`-prefixed name (which Spark's file source ignores) and then renamed, so
the service never sees a partial file.

Each event carries its scheduled creation time (`created_us`). About 5%
have an event time (`ts`) 1-6 hours before creation, so a micro-batch
touches several (dt, hr) partitions; about 1% of lines are malformed.

The event stream is a pure function of (seed, rate, seconds): run.py
rebuilds it with `events()` to check what landed.

    python3 gen_events.py <src_dir> <summary_json> <seed> <rate> <seconds> <start_epoch_s>
"""
import json
import os
import random
import sys
import time

TICK_S = 0.2
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LATE_FRAC = 0.05
CORRUPT_FRAC = 0.01


def ticks(seconds):
    return max(1, int(round(seconds / TICK_S)))


def iso(us):
    s, frac = divmod(us, 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{frac:06d}Z"


def events(seed, rate, seconds, start_us):
    """Yield, per tick, the list of (line, event) pairs; event is None for
    a malformed line, else (event_id, created_us, ts_us, value)."""
    rng = random.Random(seed)
    i = 0
    for k in range(ticks(seconds)):
        lines = []
        end_us = start_us + int((k + 1) * TICK_S * 1_000_000)
        while True:
            created = start_us + (i * 1_000_000) // rate
            if created >= end_us:
                break
            ts_us = created
            if rng.random() < LATE_FRAC:
                ts_us -= rng.randint(3600, 6 * 3600) * 1_000_000
            value = round(rng.expovariate(1 / 50.0), 2)
            rec = {"event_id": i, "ts": iso(ts_us), "user_id": rng.randrange(1500),
                   "event_type": rng.choice(EVENT_TYPES), "value": value,
                   "props": json.dumps({"k": rng.randrange(100)}), "created_us": created}
            line = json.dumps(rec)
            if rng.random() < CORRUPT_FRAC:
                lines.append((line[: len(line) // 2], None))
            else:
                lines.append((line, (i, created, ts_us, value)))
            i += 1
        yield lines


def main():
    src, summary, seed, rate, seconds, start = sys.argv[1:7]
    seed, rate, seconds, start = int(seed), int(rate), float(seconds), float(start)
    start_us = int(start * 1_000_000)
    os.makedirs(src, exist_ok=True)
    late_max, n_lines, n_corrupt, n_ticks = 0.0, 0, 0, 0
    # each tick's lines are made while the previous tick's time runs out
    for k, lines in enumerate(events(seed, rate, seconds, start_us)):
        due = start + (k + 1) * TICK_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(src, f".part-{k:06d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(line for line, _ in lines) + "\n")
        os.rename(tmp, os.path.join(src, f"part-{k:06d}.jsonl"))
        late_max = max(late_max, (time.time() - due) * 1000.0)
        n_lines += len(lines)
        n_corrupt += sum(1 for _, e in lines if e is None)
        n_ticks += 1
    tmp = summary + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"lines": n_lines, "corrupt": n_corrupt, "ticks": n_ticks,
                   "end_s": start + n_ticks * TICK_S, "late_ms_max": late_max}, f)
    os.rename(tmp, summary)


if __name__ == "__main__":
    main()
