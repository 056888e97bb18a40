"""Parameter-randomized python-reference differential sweeps for the
attribution and downsample families — the analytics analog of the PQL
querygen sweeps (mirroring the reference's QueryGenerator strategy,
`pinot-integration-tests/.../QueryGenerator.java:65`): thousands of
random (data, parameter) cases, each checked against an independent
pure-python evaluation of the documented semantics.

Randomized per chunk: attribution model (linear/position/time_decay),
lookback, half-life, bucket step; per seed: user/series count, event
counts, timestamp granularity (coarse grids force same-µs ties and
exact lookback/bucket-edge hits), pre-1970 offsets (negative epochs),
counter resets, duplicate conversions at one instant, and conversions
with no touches.

Batching: a seed's users/series are NAMESPACED into the key column
(user_id = seed*1000 + u), so one Spark job evaluates a whole chunk of
seeds at once — per-user/per-series operators can't see across seeds.

Usage: python scripts/randomized_sweep_analytics.py [n_chunks] [seeds_per_chunk] [base_seed]
Defaults: 20 chunks x 100 seeds from base 0. Prints one summary line;
non-zero exit on any mismatch.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from realtime_olap_spark.session import get_spark  # noqa: E402

US = 1_000_000
EPOCH = dt.datetime(1970, 1, 1)

TOUCHES = ["view", "click", "signup"]
CONV = "purchase"


def _ts(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=us)


def _gen_attr_rows(rnd: random.Random, seed: int, look_us: int):
    """Events for one seed: (user, us, event_type, event_id)."""
    rows = []
    gran = rnd.choice([1, US, look_us // 7 or 1, look_us // 2 or 1, look_us])
    base = rnd.choice([0, -5 * look_us, 3 * look_us]) + rnd.randrange(4) * gran
    eid = seed * 100_000
    for u in range(rnd.randrange(2, 6)):
        user = seed * 1000 + u
        n = rnd.randrange(3, 18)
        for _ in range(n):
            us = base + rnd.randrange(-20, 40) * gran
            ev = rnd.choice(TOUCHES + [CONV, CONV, "noise"])
            rows.append((user, us, ev, eid))
            eid += 1
        # force edge cases: touch exactly at lookback edge + duplicate
        # conversions at one instant + same-µs touch/conversion
        c0 = base + rnd.randrange(0, 30) * gran
        rows.append((user, c0 - look_us, rnd.choice(TOUCHES), eid)); eid += 1
        rows.append((user, c0, CONV, eid)); eid += 1
        if rnd.random() < 0.5:
            rows.append((user, c0, CONV, eid)); eid += 1
        if rnd.random() < 0.5:
            rows.append((user, c0, rnd.choice(TOUCHES), eid)); eid += 1
    return rows


def _ref_multi_touch(rows, model, look_us, hl_us):
    """(conv_id, channel, t_us, credit) set per the documented model."""
    by_user: dict = {}
    for user, us, ev, eid in rows:
        by_user.setdefault(user, []).append((us, ev, eid))
    out = []
    for user, evs in by_user.items():
        convs = [(us, eid) for us, ev, eid in evs if ev == CONV]
        touches = [(us, ev) for us, ev, eid in evs if ev in TOUCHES]
        for c_us, cid in convs:
            hits = sorted((t, ch) for t, ch in touches
                          if c_us - look_us <= t <= c_us)
            n = len(hits)
            if n == 0:
                out.append((cid, None, None, 1.0))
                continue
            if model == "time_decay":
                # same min-age shift as the operator (log-sum-exp):
                # unshifted python would itself hit 0.0/0.0 at tiny
                # half-lives
                m = min(c_us - t for t, _ in hits)
                ws = [0.5 ** ((c_us - t - m) / hl_us) for t, _ in hits]
                tot = sum(ws)
            for i, (t, ch) in enumerate(hits):
                if model == "linear":
                    cr = 1.0 / n
                elif model == "position":
                    cr = (1.0 if n == 1 else 0.5 if n == 2
                          else 0.4 if i in (0, n - 1) else 0.2 / (n - 2))
                else:
                    cr = ws[i] / tot
                out.append((cid, ch, t, cr))
    return out


def _ref_last_touch(rows, look_us):
    """(conv event_id, channel, t_us) with the banded tie-break
    (max t, then max channel)."""
    by_user: dict = {}
    for user, us, ev, eid in rows:
        by_user.setdefault(user, []).append((us, ev, eid))
    out = []
    for user, evs in by_user.items():
        touches = [(us, ev) for us, ev, eid in evs if ev in TOUCHES]
        for c_us, ev, cid in [(us, ev, eid) for us, ev, eid in evs
                              if ev == CONV]:
            hits = [(t, ch) for t, ch in touches
                    if c_us - look_us <= t <= c_us]
            if hits:
                t, ch = max(hits)
                out.append((cid, ch, t))
            else:
                out.append((cid, None, None))
    return out


def _gen_series_rows(rnd: random.Random, seed: int, step_us: int):
    """Samples for one seed: (series, us, value) with resets and ties."""
    rows = []
    for s in range(rnd.randrange(1, 4)):
        series = f"{seed}:{s}"
        gran = rnd.choice([1, US, step_us // 5 or 1, step_us // 2 or 1,
                           step_us])
        base = rnd.choice([0, -7 * step_us, 2 * step_us])
        v = rnd.uniform(0, 50)
        us0 = base
        for _ in range(rnd.randrange(4, 25)):
            us0 += rnd.randrange(0, 4) * gran  # 0-step => same-µs ties
            if rnd.random() < 0.2:
                v = rnd.uniform(0, 5)  # counter reset
            else:
                v += rnd.uniform(0, 10)
            rows.append((series, us0, round(v, 6)))
    return rows


def _bucket(us: int, step_us: int) -> int:
    return (us // step_us) * step_us  # python // floors like pmod


def _ref_counter_rate(rows, step_us, step_seconds):
    by_s: dict = {}
    for s, us, v in rows:
        by_s.setdefault(s, []).append((us, v))
    out = {}
    for s, samples in by_s.items():
        samples.sort()
        prev = None
        incs: dict = {}
        cnts: dict = {}
        for us, v in samples:
            b = _bucket(us, step_us)
            cnts[b] = cnts.get(b, 0) + 1
            incs.setdefault(b, 0.0)
            if prev is not None:
                d = v - prev if v >= prev else v
                incs[b] = incs[b] + d
            prev = v
        for b in incs:
            out[(s, b)] = (incs[b], incs[b] / float(step_seconds), cnts[b])
    return out


def _ref_ohlc(rows, step_us):
    agg: dict = {}
    for s, us, v in rows:
        b = _bucket(us, step_us)
        agg.setdefault((s, b), []).append((us, v))
    out = {}
    for key, tv in agg.items():
        tv.sort()
        out[key] = (tv[0][1], max(v for _, v in tv), min(v for _, v in tv),
                    tv[-1][1], len(tv))
    return out


def _ref_twa(rows, step_us):
    agg: dict = {}
    for s, us, v in rows:
        b = _bucket(us, step_us)
        agg.setdefault((s, b), []).append((us, v))
    out = {}
    for (s, b), tv in agg.items():
        tv.sort()
        num = 0.0
        den = 0
        for i, (us, v) in enumerate(tv):
            nxt = tv[i + 1][0] if i + 1 < len(tv) else b + step_us
            num += v * float(nxt - us)
            den += nxt - us
        out[(s, b)] = (num / float(den) if den else None, den, len(tv))
    return out


def _close(a, b, tol=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)


def _gen_gapfill_rows(rnd: random.Random, seed: int, step_us: int):
    """Pre-bucketed rows for one seed: (group, bucket_us, value) —
    distinct buckets per group (the gapfill input contract)."""
    rows = []
    for g in range(rnd.randrange(1, 4)):
        group = f"{seed}:{g}"
        base = rnd.choice([0, -9, 5]) * step_us
        ks = sorted(rnd.sample(range(0, 14), rnd.randrange(1, 7)))
        for k in ks:
            rows.append((group, base + k * step_us,
                         round(rnd.uniform(-5, 50), 6)))
    return rows


def _ref_gapfill(rows, step_us, how, fill_value, start_us, end_us):
    by_g: dict = {}
    for g, b, v in rows:
        by_g.setdefault(g, []).append((b, v))
    const = 0.0 if how == "zero" else fill_value
    out = set()
    for g, obs in by_g.items():
        obs.sort()
        for i, (b, v) in enumerate(obs):
            lead = obs[i + 1] if i + 1 < len(obs) else None
            if lead is not None:
                n = (lead[0] - b) // step_us
            elif end_us is not None:
                n = (end_us - b) // step_us + 1
            else:
                n = 1
            for j in range(n):
                bucket = b + j * step_us
                if j == 0:
                    val = v
                elif how in ("zero", "const"):
                    val = const
                elif how == "locf":
                    val = v
                else:  # linear
                    val = (v + (lead[1] - v) * (j / n)
                           if lead is not None else None)
                out.add((g, bucket, val, j > 0))
        if start_us is not None and obs[0][0] > start_us:
            n_head = (obs[0][0] - start_us) // step_us
            hv = const if how in ("zero", "const") else None
            for j in range(n_head):
                out.add((g, start_us + j * step_us, hv, True))
    return out


def _gen_funnel_rows(rnd: random.Random, seed: int, steps):
    rows = []
    evs = steps + ["noise"]
    for u in range(rnd.randrange(2, 6)):
        user = seed * 1000 + u
        gran = rnd.choice([1, US, 60 * US])
        t = rnd.choice([0, -100 * US])
        for _ in range(rnd.randrange(4, 22)):
            t += rnd.randrange(0, 5) * gran  # 0 => same-us ties
            rows.append((user, t, rnd.choice(evs)))
    return rows


def _ref_funnel(rows, steps, strict, window_us, step_window_us):
    by_u: dict = {}
    for u, t, ev in rows:
        by_u.setdefault(u, {})
        if ev in steps:
            by_u[u].setdefault(ev, []).append(t)
    out = set()
    for u, arrs in by_u.items():
        a0 = sorted(arrs.get(steps[0], []))
        if not a0:
            continue
        ts = [a0[0]]
        deadline = ts[0] + window_us if window_us is not None else None
        for s in steps[1:]:
            prev = ts[-1]
            if prev is None:
                ts.append(None)
                continue
            cand = [x for x in sorted(arrs.get(s, []))
                    if (x > prev if strict else x >= prev)
                    and (deadline is None or x <= deadline)
                    and (step_window_us is None
                         or x <= prev + step_window_us)]
            ts.append(cand[0] if cand else None)
        max_step = max(i + 1 for i, t in enumerate(ts) if t is not None)
        out.add((u, *ts, max_step))
    return out


def _ref_retention(rows, step_us, max_offset):
    per_user: dict = {}
    for u, us_ in rows:
        b = (us_ // step_us) * step_us
        per_user.setdefault(u, set()).add(b)
    counts: dict = {}
    for u, bs in per_user.items():
        cohort = min(bs)
        for b in bs:
            off = (b - cohort) // step_us
            counts[(cohort, off)] = counts.get((cohort, off), 0) + 1
    out = set()
    for (cohort, off), n in counts.items():
        if max_offset is not None and off > max_offset:
            continue
        out.add((cohort, off, n, n / counts[(cohort, 0)]))
    return out


PARTIAL_STRATS = ["overwrite", "ignore", "increment", "append", "max", "min"]

#: strategies whose fold is order-insensitive (any batch split is legal);
#: ignore/append additionally need version-boundary splits for parity
ORDER_FREE = {"overwrite", "increment", "max", "min"}


def _gen_upsert_rows(rnd: random.Random, seed: int):
    """(key, version, a, b) rows: heavy version duplication (ties), NULL
    values (~25%), negative versions, singleton and fat keys."""
    rows = []
    for k in range(rnd.randrange(2, 6)):
        key = seed * 1000 + k
        for _ in range(rnd.randrange(1, 12)):
            v = rnd.randrange(-3, 6)
            a = None if rnd.random() < 0.25 else rnd.randrange(-50, 50)
            b = None if rnd.random() < 0.25 else rnd.randrange(0, 100)
            rows.append((key, v, a, b))
    return rows


def _nf(x):
    """None-first sort key — Spark struct comparison orders NULL fields
    smallest, so the python reference must too."""
    return (0, 0) if x is None else (1, x)


def _ref_partial(rows, strategies):
    """Python reference for partial_latest_by_key's documented
    semantics: per key, per column, fold (version, value) pairs."""
    by_key: dict = {}
    for key, v, a, b in rows:
        by_key.setdefault(key, []).append((v, a, b))
    out = {}
    for key, recs in by_key.items():
        res = [max(v for v, _, _ in recs)]
        for ci, col in enumerate(["a", "b"]):
            pairs = [(v, rec[ci]) for v, *rec in recs]
            s = strategies[col]
            if s == "overwrite":
                val = max(pairs, key=lambda p: (p[0], _nf(p[1])))[1]
            elif s == "ignore":
                val = min(pairs, key=lambda p: (p[0], _nf(p[1])))[1]
            elif s == "increment":
                vals = [c for _, c in pairs if c is not None]
                val = sum(vals) if vals else None
            elif s == "append":
                val = tuple(c for _, c in sorted(
                    pairs, key=lambda p: (p[0], _nf(p[1]))))
            elif s == "max":
                vals = [c for _, c in pairs if c is not None]
                val = max(vals) if vals else None
            else:  # min
                vals = [c for _, c in pairs if c is not None]
                val = min(vals) if vals else None
            res.append(val)
        out[key] = tuple(res)
    return out


def _split_batches(rnd: random.Random, rows, version_boundary: bool):
    """Split rows into 2-4 fold batches. With version_boundary, all rows
    of one version land in one batch and batches ascend by version (the
    ordering under which ignore/append parity is defined); otherwise the
    split is arbitrary (order-insensitive strategies only)."""
    n = rnd.randrange(2, 5)
    if version_boundary:
        versions = sorted({v for _, v, _, _ in rows})
        cuts = sorted(rnd.sample(range(1, len(versions)),
                                 min(n - 1, len(versions) - 1))) \
            if len(versions) > 1 else []
        groups = []
        prev = 0
        for c in cuts + [len(versions)]:
            groups.append(set(versions[prev:c]))
            prev = c
        return [[r for r in rows if r[1] in g] for g in groups]
    shuffled = rows[:]
    rnd.shuffle(shuffled)
    size = -(-len(shuffled) // n)
    return [shuffled[i:i + size] for i in range(0, len(shuffled), size)]


def _gen_asof_rows(rnd: random.Random, seed: int):
    """(user, us, side, value) with HEAVY (user, ts) ties on both sides
    — the regime the r10 deterministic tie-break covers."""
    left, right = [], []
    gran = rnd.choice([1, US])
    for u in range(rnd.randrange(1, 4)):
        user = seed * 1000 + u
        for _ in range(rnd.randrange(1, 8)):
            t = rnd.randrange(-5, 15) * gran
            left.append((user, t))
        for _ in range(rnd.randrange(0, 10)):
            t = rnd.randrange(-5, 15) * gran
            right.append((user, t, rnd.choice("abcdef")))
        if left and rnd.random() < 0.7:   # force exact tie instants
            t = left[-1][1]
            right.append((user, t, rnd.choice("abcdef")))
            right.append((user, t, rnd.choice("abcdef")))
    return left, right


def _ref_asof(left, right, tol_us):
    """Backward as-of with the DOCUMENTED deterministic tie rule:
    winner = max (ts, value) among right rows at-or-before, within
    tolerance."""
    by_user: dict = {}
    for user, t, v in right:
        by_user.setdefault(user, []).append((t, v))
    out = set()
    for user, t in left:
        cand = [(rt, v) for rt, v in by_user.get(user, [])
                if rt <= t and (tol_us is None or t - rt <= tol_us)]
        if cand:
            rt, v = max(cand)
            out.add((user, t, rt, v))
        else:
            out.add((user, t, None, None))
    return out


def run_chunk(spark, chunk: int, seeds, rnd_master: random.Random) -> list:
    from realtime_olap_spark.operators.attribution import (
        last_touch_attribution, multi_touch_attribution)
    from realtime_olap_spark.operators.downsample import (counter_rate,
                                                          ohlc,
                                                          time_weighted_avg)
    fails = []
    model = rnd_master.choice(["linear", "position", "time_decay"])
    look_s = rnd_master.choice([30, 100, 3600, 86400])
    hl_s = rnd_master.choice([10, 1800, 7200])
    step_s = rnd_master.choice([1, 7, 60, 3600, 86400])
    look_us, step_us, hl_us = look_s * US, step_s * US, hl_s * US * 1.0

    attr_rows, series_rows = [], []
    for seed in seeds:
        rnd = random.Random(seed)
        attr_rows += _gen_attr_rows(rnd, seed, look_us)
        series_rows += _gen_series_rows(rnd, seed, step_us)

    ev = spark.createDataFrame(
        [(u, _ts(us), e, i) for u, us, e, i in attr_rows],
        "user_id long, ts timestamp, event_type string, event_id long")

    # multi-touch
    got = {}
    for r in multi_touch_attribution(
            ev, CONV, TOUCHES, model, lookback_seconds=look_s,
            half_life_seconds=hl_s).collect():
        t = (None if r["touch_ts"] is None else
             int((r["touch_ts"] - EPOCH).total_seconds() * US + 0.5)
             if r["touch_ts"] >= EPOCH else
             -int((EPOCH - r["touch_ts"]).total_seconds() * US + 0.5))
        got.setdefault((r["conv_id"], r["channel"], t), []).append(
            r["credit"])
    want = {}
    for cid, ch, t, cr in _ref_multi_touch(attr_rows, model, look_us,
                                           hl_us):
        want.setdefault((cid, ch, t), []).append(cr)
    if set(got) != set(want):
        fails.append((chunk, "multi_touch keys",
                      sorted(set(got) ^ set(want))[:3]))
    else:
        tol = 1e-9 if model == "time_decay" else 0.0
        for k in want:
            g, w = sorted(got[k]), sorted(want[k])
            if len(g) != len(w) or any(
                    not _close(a, b, tol) if tol else a != b
                    for a, b in zip(g, w)):
                fails.append((chunk, "multi_touch credit", k, g, w))
                break

    # last-touch, banded shape
    got_lt = {(r["event_id"],
               r["channel"],
               None if r["touch_ts"] is None else
               int((r["touch_ts"] - EPOCH).total_seconds() * US + 0.5)
               if r["touch_ts"] >= EPOCH else
               -int((EPOCH - r["touch_ts"]).total_seconds() * US + 0.5))
              for r in last_touch_attribution(
                  ev, CONV, TOUCHES, lookback_seconds=look_s, banded=True)
              .select("event_id", "channel", "touch_ts").collect()}
    want_lt = set(_ref_last_touch(attr_rows, look_us))
    if got_lt != want_lt:
        fails.append((chunk, "last_touch", sorted(got_lt ^ want_lt)[:3]))

    sf = spark.createDataFrame(
        [(s, _ts(us), v) for s, us, v in series_rows],
        "series string, ts timestamp, value double")

    def _bus(b):
        return (int((b - EPOCH).total_seconds() * US + 0.5) if b >= EPOCH
                else -int((EPOCH - b).total_seconds() * US + 0.5))

    got_cr = {(r["series"], _bus(r["bucket"])):
              (r["increase"], r["rate_per_s"], r["n_samples"])
              for r in counter_rate(sf, "ts", step_s, ["series"],
                                    "value").collect()}
    want_cr = _ref_counter_rate(series_rows, step_us, step_s)
    if set(got_cr) != set(want_cr) or any(
            not (_close(got_cr[k][0], want_cr[k][0])
                 and _close(got_cr[k][1], want_cr[k][1])
                 and got_cr[k][2] == want_cr[k][2]) for k in want_cr):
        bad = [k for k in set(got_cr) | set(want_cr)
               if got_cr.get(k) != want_cr.get(k)][:3]
        fails.append((chunk, "counter_rate", bad,
                      [got_cr.get(k) for k in bad],
                      [want_cr.get(k) for k in bad]))

    got_oh = {(r["series"], _bus(r["bucket"])):
              (r["open"], r["high"], r["low"], r["close"], r["n"])
              for r in ohlc(sf, "ts", step_s, ["series"],
                            "value").collect()}
    want_oh = _ref_ohlc(series_rows, step_us)
    if got_oh != want_oh:
        bad = [k for k in set(got_oh) | set(want_oh)
               if got_oh.get(k) != want_oh.get(k)][:3]
        fails.append((chunk, "ohlc", bad))

    got_tw = {(r["series"], _bus(r["bucket"])):
              (r["twa"], r["span_us"], r["n"])
              for r in time_weighted_avg(sf, "ts", step_s, ["series"],
                                         "value").collect()}
    want_tw = _ref_twa(series_rows, step_us)
    if set(got_tw) != set(want_tw) or any(
            not (_close(got_tw[k][0], want_tw[k][0])
                 and got_tw[k][1] == want_tw[k][1]
                 and got_tw[k][2] == want_tw[k][2]) for k in want_tw):
        bad = [k for k in set(got_tw) | set(want_tw)
               if k not in got_tw or k not in want_tw
               or not _close(got_tw[k][0], want_tw[k][0])][:3]
        fails.append((chunk, "twa", bad, [got_tw.get(k) for k in bad],
                      [want_tw.get(k) for k in bad]))

    # ---- gapfill (emit shape; bit-exact incl. linear interpolation) ----
    from realtime_olap_spark.operators.gapfill import gapfill
    gf_step_s = rnd_master.choice([60, 3600, 86400])
    gf_step_us = gf_step_s * US
    how = rnd_master.choice(["zero", "const", "locf", "linear"])
    fv = round(rnd_master.uniform(-3, 3), 3) if how == "const" else None
    bounds = rnd_master.choice(["none", "start", "end", "both"])
    gf_rows = []
    for seed in seeds:
        gf_rows += _gen_gapfill_rows(random.Random(seed + 10**7), seed,
                                     gf_step_us)
    lo = min(b for _, b, _ in gf_rows)
    hi = max(b for _, b, _ in gf_rows)
    start_us = lo - 2 * gf_step_us if bounds in ("start", "both") else None
    end_us = hi + 2 * gf_step_us if bounds in ("end", "both") else None
    gdf = spark.createDataFrame(
        [(g, _ts(b), v) for g, b, v in gf_rows],
        "g string, bucket timestamp, v double")
    got_gf = {(r["g"], _bus(r["bucket"]), r["v"], r["is_filled"])
              for r in gapfill(gdf, "bucket", ["g"], ["v"], gf_step_s,
                               how=how, fill_value=fv,
                               start=(None if start_us is None
                                      else _ts(start_us)),
                               end=(None if end_us is None
                                    else _ts(end_us))).collect()}
    want_gf = _ref_gapfill(gf_rows, gf_step_us, how, fv, start_us, end_us)
    if got_gf != want_gf:
        fails.append((chunk, f"gapfill {how}/{bounds}",
                      sorted(got_gf ^ want_gf)[:4]))
    # duplicate-bucket contract: must raise, never emit phantom rows
    dup = spark.createDataFrame(
        [("d", _ts(0), 1.0), ("d", _ts(0), 2.0), ("d", _ts(gf_step_us), 3.0)],
        "g string, bucket timestamp, v double")
    try:
        gapfill(dup, "bucket", ["g"], ["v"], gf_step_s, how=how,
                fill_value=fv).collect()
        fails.append((chunk, "gapfill duplicate-bucket did NOT raise"))
    except Exception:
        pass

    # ---- funnel (greedy-earliest, strict/ties, whole+step windows) ----
    from realtime_olap_spark.operators.funnel import funnel_match
    steps = ["s1", "s2", "s3", "s4"][:rnd_master.choice([3, 4])]
    strict = rnd_master.random() < 0.5
    wmode = rnd_master.choice(["none", "whole", "step", "both"])
    w_s = rnd_master.choice([120, 3600]) if wmode in ("whole", "both") \
        else None
    sw_s = rnd_master.choice([60, 600]) if wmode in ("step", "both") \
        else None
    fn_rows = []
    for seed in seeds:
        fn_rows += _gen_funnel_rows(random.Random(seed + 2 * 10**7), seed,
                                    steps)
    fdf = spark.createDataFrame(
        [(u, _ts(t), ev) for u, t, ev in fn_rows],
        "user_id long, ts timestamp, event_type string")
    tcols = [f"t_{i + 1}" for i in range(len(steps))]
    got_fn = {tuple(r[c] for c in ["user", *tcols, "max_step"])
              for r in funnel_match(fdf, steps, window_seconds=w_s,
                                    strict=strict,
                                    step_window_seconds=sw_s).collect()}
    want_fn = _ref_funnel(fn_rows, steps, strict,
                          None if w_s is None else w_s * US,
                          None if sw_s is None else sw_s * US)
    if got_fn != want_fn:
        fails.append((chunk, f"funnel {wmode}/strict={strict}",
                      sorted(got_fn ^ want_fn)[:4]))

    # ---- cohort retention (whole chunk = one dataset) ----
    from realtime_olap_spark.operators.retention import cohort_retention
    rt_step_s = rnd_master.choice([3600, 86400, 7 * 86400])
    rt_max = rnd_master.choice([None, 3, 8])
    rt_rows = [(u, t) for u, t, ev in fn_rows]
    got_rt = {(_bus(r["cohort"]), r["offset"], r["n_users"], r["retention"])
              for r in cohort_retention(fdf, bucket_seconds=rt_step_s,
                                        max_offset=rt_max).collect()}
    want_rt = _ref_retention(rt_rows, rt_step_s * US, rt_max)
    if got_rt != want_rt:
        fails.append((chunk, f"retention {rt_step_s}/{rt_max}",
                      sorted(got_rt ^ want_rt)[:4]))

    # ---- upsert partial-merge folds (r9 verdict directive #5):
    # randomized strategies x duplicated versions x batch splits;
    # one-shot vs the python reference AND the chained fold vs one-shot
    from realtime_olap_spark.streaming.upsert import (_combine_partial,
                                                      partial_latest_by_key)
    strategies = {"a": rnd_master.choice(PARTIAL_STRATS),
                  "b": rnd_master.choice(PARTIAL_STRATS)}
    version_boundary = not set(strategies.values()) <= ORDER_FREE \
        or rnd_master.random() < 0.3
    up_rows = []
    for seed in seeds:
        up_rows += _gen_upsert_rows(random.Random(seed + 3 * 10**7), seed)
    up_schema = "k long, version long, a long, b long"
    udf_all = spark.createDataFrame(up_rows, up_schema)

    def canon_up(df):
        return {r["k"]: (r["version"],
                         *[tuple(r[c]) if isinstance(r[c], list) else r[c]
                           for c in ("a", "b")]) for r in df.collect()}

    got_one = canon_up(partial_latest_by_key(udf_all, ["k"], "version",
                                             strategies))
    want_up = _ref_partial(up_rows, strategies)
    if got_one != want_up:
        bad = [k for k in set(got_one) | set(want_up)
               if got_one.get(k) != want_up.get(k)][:3]
        fails.append((chunk, f"upsert one-shot {strategies}", bad,
                      [got_one.get(k) for k in bad],
                      [want_up.get(k) for k in bad]))

    batches = _split_batches(random.Random(seeds.start + 7), up_rows,
                             version_boundary)
    state = None
    for b_rows in batches:
        if not b_rows:
            continue
        agg = partial_latest_by_key(
            spark.createDataFrame(b_rows, up_schema),
            ["k"], "version", strategies)
        state = agg if state is None else _combine_partial(
            state, agg, ["k"], "version", strategies, "overwrite")
    got_fold = canon_up(state)
    if got_fold != want_up:
        bad = [k for k in set(got_fold) | set(want_up)
               if got_fold.get(k) != want_up.get(k)][:3]
        fails.append((chunk,
                      f"upsert fold {strategies} vb={version_boundary} "
                      f"n={len(batches)}", bad,
                      [got_fold.get(k) for k in bad],
                      [want_up.get(k) for k in bad]))

    # ---- as-of join deterministic ties (r10): heavy same-instant
    # duplicates on the right side must resolve to max(struct(ts, val))
    from realtime_olap_spark.operators.joins import asof_join
    tol_s = rnd_master.choice([None, 3, 10])
    a_left, a_right = [], []
    for seed in seeds:
        l, r = _gen_asof_rows(random.Random(seed + 4 * 10**7), seed)
        a_left += l
        a_right += r
    ldf = spark.createDataFrame([(u, _ts(t)) for u, t in a_left],
                                "user_id long, ts timestamp")
    rdf = spark.createDataFrame([(u, _ts(t), v) for u, t, v in a_right],
                                "user_id long, ts timestamp, v string")
    got_as = {(r["user_id"], _bus(r["ts"]),
               None if r["asof_ts"] is None else _bus(r["asof_ts"]),
               r["v_m"])
              for r in asof_join(
                  ldf.distinct(), rdf, on=["user_id"], values=["v"],
                  tolerance_us=None if tol_s is None else tol_s * US,
                  suffix="_m").collect()}
    want_as = _ref_asof(sorted(set(a_left)), a_right,
                        None if tol_s is None else tol_s * US)
    if got_as != want_as:
        fails.append((chunk, f"asof ties tol={tol_s}",
                      sorted(got_as ^ want_as)[:4]))
    return fails


def main() -> None:
    from scripts._argv import parse_int_args
    n_chunks, per, base = parse_int_args(
        __doc__, [("n_chunks", 20, 10_000), ("per_chunk", 100, 10_000),
                  ("base_seed", 0)])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    fails = []
    for c in range(n_chunks):
        seeds = range(base + c * per, base + (c + 1) * per)
        fails += run_chunk(spark, c, seeds, random.Random(base + c))
        print(f"chunk {c}: seeds {seeds.start}-{seeds.stop - 1} "
              f"{'OK' if not fails else 'FAIL'}", flush=True)
        if fails:
            break
    print(f"SWEEP {'CLEAN' if not fails else 'FAILED'}: "
          f"{n_chunks * per} seeds from {base}")
    for f in fails:
        print("  ", f)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
