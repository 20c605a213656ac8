#!/usr/bin/env python3
"""Seeded CRMLS change-capture generator for the streaming workloads.

One JSON envelope per line, one directory per topic (listings, agents,
openhouses, offices, media, history), in the wire shape
`Crmls.envelopeCol` produces. Every file is written under a hidden
temporary name and then renamed into place, because Spark's text file
source can pick up a half-written file.

Modes:
  seed     the seeded state: every listing, agent, office, open house,
           media and history key once (written before the job starts).
  backlog  several versions per key over all six topics, in shuffled
           timestamp order (written to a staging tree, moved in later).
  live     open loop: a fixed number of rows every tick, published on a
           fixed schedule that never waits for the consumer; warm-up
           ticks until the consumer has settled, then the measured ones.
           Writes a manifest with each file's due time, publish time and
           rows.

The same --seed gives the same rows, in every mode. In live mode the
warm-up ticks are a prefix of one seeded stream, as long as the consumer
takes to settle; the measured ticks come from a second one and are the
same whatever that length.
"""
import argparse
import json
import os
import random
import time

import workloads

ENTITIES = workloads.TOPICS
U = workloads.UNIVERSE

STATUSES = ["Active", "Pending", "Closed", "Expired", "Withdrawn"]


_R = random.Random(0)
_TEXT = "".join(_R.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(1 << 16))


def filler(rng, n):
    o = rng.randrange(len(_TEXT) - n)
    return _TEXT[o:o + n]


def listing_data(rng, i, u):
    a, o = u["agents"], u["offices"]

    def ref(prefix, n, optional):
        if optional and rng.random() < 0.5:
            return None
        return f"{prefix}{rng.randrange(n)}"

    d = {"ListingKeyNumeric": f"LK{i}",
         "ListAgentKeyNumeric": ref("A", a, False),
         "BuyerAgentKeyNumeric": ref("A", a, False),
         "CoListAgentKeyNumeric": ref("A", a, True),
         "CoBuyerAgentKeyNumeric": ref("A", a, True),
         "ListOfficeKeyNumeric": ref("O", o, False),
         "BuyerOfficeKeyNumeric": ref("O", o, False),
         "CoListOfficeKeyNumeric": ref("O", o, True),
         "CoBuyerOfficeKeyNumeric": ref("O", o, True),
         "ListPrice": rng.randrange(100000, 5000000),
         "StandardStatus": rng.choice(STATUSES),
         "PublicRemarks": filler(rng, 160)}
    return f"L{i}", {k: v for k, v in d.items() if v is not None}


def row_for(rng, entity, i, u):
    """(pk, data) of one version of key `i` of `entity`."""
    if entity == "listings":
        return listing_data(rng, i, u)
    if entity == "agents":
        return f"A{i}", {"MemberFullName": f"agent {i}",
                         "MemberEmail": f"a{i}@example.com",
                         "MemberPhone": str(rng.randrange(10**9, 10**10)),
                         "Bio": filler(rng, 80)}
    if entity == "offices":
        return f"O{i}", {"OfficeName": f"office {i}",
                         "OfficePhone": str(rng.randrange(10**9, 10**10)),
                         "OfficeAddress": filler(rng, 60)}
    if entity == "openhouses":
        return f"OH{i}", {"ListingKeyNumeric": f"LK{(i * 5) % u['listings']}",
                          "OpenHouseDate": f"2026-{rng.randrange(1, 13):02d}-01",
                          "OpenHouseRemarks": filler(rng, 40)}
    prefix = "M" if entity == "media" else "H"
    target = f"L{(i * 2 + (entity == 'history')) % u['listings']}"
    return f"{prefix}{i}", {"ResourceRecordKeyNumeric": target,
                            "Detail": filler(rng, 60)}


def row_of(rng, entity, u):
    """One update to a uniformly chosen key of `entity`."""
    return row_for(rng, entity, rng.randrange(u[entity]), u)


def envelope(pk, ts, data):
    return json.dumps({"data": json.dumps(data, separators=(",", ":")),
                       "uc_pk": pk, "uc_update_ts": f"u{ts}",
                       "uc_version": "1", "uc_created_ts": str(ts),
                       "uc_row_type": "r", "uc_type": "t",
                       "uc_valid_day": "1", "uc_valid_ts": str(ts)},
                      separators=(",", ":"))


def publish(dirpath, name, lines):
    """Write under a hidden name, then rename into the source dir."""
    tmp = os.path.join(dirpath, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(dirpath, name))


def write_seed(root, seed, u, files_per_entity=4):
    rng = random.Random(seed)
    ts = 1
    for e in ENTITIES:
        os.makedirs(os.path.join(root, e), exist_ok=True)
        lines = []
        for i in range(u[e]):
            pk, data = row_for(rng, e, i, u)
            lines.append(envelope(pk, ts, data))
            ts += 1
        step = -(-len(lines) // files_per_entity)
        for k in range(files_per_entity):
            publish(os.path.join(root, e), f"seed-{k:03d}.json",
                    lines[k * step:(k + 1) * step])
    return ts


def write_backlog(root, seed, u, ts0, files_per_entity=8):
    """BACKLOG_ROWS envelopes over all topics: 2-4 versions per chosen key,
    distinct timestamps, file order shuffled against timestamp order."""
    rng = random.Random(seed * 7919 + 1)
    shares = {"listings": 0.45, "agents": 0.10, "offices": 0.05,
              "openhouses": 0.10, "media": 0.15, "history": 0.15}
    by_entity = {e: [] for e in ENTITIES}
    ts = ts0
    for e in ENTITIES:
        want = int(workloads.BACKLOG_ROWS * shares[e])
        while len(by_entity[e]) < want:
            pk, data = row_of(rng, e, u)
            for _ in range(rng.randrange(2, 5)):
                if len(by_entity[e]) >= want:
                    break
                by_entity[e].append((pk, ts, dict(data, Rev=ts)))
                ts += 1
    total = 0
    for e, rs in by_entity.items():
        rng.shuffle(rs)
        d = os.path.join(root, e)
        os.makedirs(d, exist_ok=True)
        lines = [envelope(pk, t, data) for pk, t, data in rs]
        step = -(-len(lines) // files_per_entity)
        for k in range(files_per_entity):
            chunk = lines[k * step:(k + 1) * step]
            if chunk:
                publish(d, f"backlog-{k:03d}.json", chunk)
        total += len(lines)
    return total, ts


class Ticks:
    """The rows of successive ticks of one seeded stream: the same seed
    gives the same rows and timestamps, tick by tick."""

    def __init__(self, rng, u, mix, ts0):
        self.rng, self.u, self.ts, self.carry = rng, u, ts0, 0.0
        shares = workloads.MIXES[mix]
        self.names, self.weights = list(shares), list(shares.values())
        self.per_tick = workloads.LIVE_RATE * workloads.LIVE_TICK_MS / 1000.0

    def next(self):
        """{topic: [envelope, ...]} of the next tick."""
        self.carry += self.per_tick
        n = int(self.carry)
        self.carry -= n
        by_entity = {}
        for e in self.rng.choices(self.names, self.weights, k=n):
            pk, data = row_of(self.rng, e, self.u)
            by_entity.setdefault(e, []).append(envelope(pk, self.ts, data))
            self.ts += 1
        return by_entity


# Timestamp offset of the measured stream: above every warm-up row's.
MEASURED_TS_OFFSET = 10 ** 7


def run_live(root, seed, u, mix, seconds, ts0, manifest, warm_marker):
    """Open loop: tick k is due at start + k * interval, whatever the
    consumer is doing; a late tick is published at once, never skipped.

    Warm-up ticks come first, drawn from a stream of their own, until the
    consumer reports that its batch times have stopped falling (by
    creating `warm_marker`), bounded by LIVE_WARM_MIN_S and
    LIVE_WARM_MAX_S. The measured ticks that follow are drawn from a
    second stream, so they are the same for a seed however long the
    warm-up took."""
    interval_ms = workloads.LIVE_TICK_MS
    min_warm = int(round(workloads.LIVE_WARM_MIN_S * 1000.0 / interval_ms))
    max_warm = int(round(workloads.LIVE_WARM_MAX_S * 1000.0 / interval_ms))
    n_measured = int(round(seconds * 1000.0 / interval_ms))
    warm = Ticks(random.Random(seed * 104729 + 3), u, mix, ts0)
    measured = Ticks(random.Random(seed * 104729 + 5), u, mix,
                     ts0 + MEASURED_TS_OFFSET)
    files = []
    warm_ticks = None
    start = time.time() * 1000.0 + 50
    k = 0
    while warm_ticks is None or k < warm_ticks + n_measured:
        if warm_ticks is None and (k >= max_warm or (
                k >= min_warm and os.path.exists(warm_marker))):
            warm_ticks = k
        stream, prefix = ((warm, "warm") if warm_ticks is None
                          else (measured, "live"))
        by_entity = stream.next()
        due = start + k * interval_ms
        delay = due / 1000.0 - time.time()
        if delay > 0:
            time.sleep(delay)
        for e, lines in by_entity.items():
            name = f"{prefix}-{k:06d}.json"
            publish(os.path.join(root, e), name, lines)
            files.append({"path": f"{e}/{name}", "due_ms": due,
                          "published_ms": time.time() * 1000.0,
                          "rows": len(lines),
                          "measured": warm_ticks is not None})
        k += 1
    with open(manifest + ".tmp", "w") as f:
        json.dump({"files": files,
                   "warm_end_ms": start + warm_ticks * interval_ms,
                   "warm_settled": warm_ticks < max_warm,
                   "end_ms": start + k * interval_ms}, f)
    os.rename(manifest + ".tmp", manifest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["seed", "backlog", "live"])
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--mix", choices=sorted(workloads.MIXES),
                    help="live: the topic mix")
    ap.add_argument("--seconds", type=float,
                    help="live: length of the measured window")
    ap.add_argument("--ts0", type=int,
                    help="backlog, live: first change timestamp")
    ap.add_argument("--manifest", help="live: where the manifest goes")
    ap.add_argument("--warm-marker",
                    help="live: file whose appearance ends the warm-up")
    a = ap.parse_args()
    if a.mode == "seed":
        print(json.dumps({"next_ts": write_seed(a.root, a.seed, U)}))
    elif a.mode == "backlog":
        n, ts = write_backlog(a.root, a.seed, U, a.ts0)
        print(json.dumps({"rows": n, "next_ts": ts}))
    else:
        run_live(a.root, a.seed, U, a.mix, a.seconds, a.ts0, a.manifest,
                 a.warm_marker)


if __name__ == "__main__":
    main()
