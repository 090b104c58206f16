"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, out_dir)``: the same seed
writes byte-identical files, a different seed different ones. The package
never sees the seed, only the files, laid out exactly like the
repository's test data (one ``<table>.parquet`` per table, FIXTURES.md) or
like a GTFS feed plus one raw ``(station, xml)`` parquet file per polling
cycle.

Each generator returns a small dict of the properties it actually produced
(row counts, duplicate / re-observation / malformed shares), which the
benchmark records next to its result.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# LLM corpus: documents with planted exact and near duplicates, and
# embeddings drawn as labelled clusters with jittered near-copies.
N_DOCS = 1_200
N_VECS = 600
DIM = 64
N_CLUSTERS = 10
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
VEC_NEAR_COPY_SHARE = 0.05

# Transit feed: 20 lines of 20 stations, both directions, one service day.
N_LINES = 20
STATIONS_PER_LINE = 20
DEPARTURES_PER_POLL = 30
SERVICE_DAY = "20261016"  # a Friday
N_CYCLES = 16
POLL_START_MIN = 6 * 60 + 40  # first poll at 06:40
POLL_EVERY_MIN = 2
MALFORMED_SHARE = 0.01
MISSING_SHARE = 0.01
DELAYED_SHARE = 0.15
CANCELLED_SHARE = 0.03

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def gen_corpus(seed: int, out_dir: str) -> dict:
    """``documents`` with planted exact and near duplicates, and
    ``embeddings`` as labelled clusters with jittered near-copies."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_WORDS)
    texts: list[str] = []
    n_exact = n_near = 0
    for i in range(N_DOCS):
        r = rng.random()
        if i >= 10 and r < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            n_exact += 1
        elif i >= 10 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
            n_near += 1
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    _write(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
                "text": texts,
                "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, N_DOCS)],
                "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
                "n_chars": pa.array(rng.integers(48, 554, N_DOCS), pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    centers = rng.normal(0.0, 0.1, (N_CLUSTERS, DIM))
    labels = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centers[labels] + rng.normal(0.0, 0.04, (N_VECS, DIM))
    copy_of = np.where(rng.random(N_VECS) < VEC_NEAR_COPY_SHARE)[0]
    copy_of = copy_of[copy_of > 0]
    for i in copy_of:
        src = int(rng.integers(0, i))
        vecs[i] = vecs[src] + rng.normal(0.0, 1e-3, DIM)
        labels[i] = labels[src]
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.astype(np.float32).ravel()), DIM)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": emb.cast(pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return {
        "documents": N_DOCS,
        "exact_dup_share": round(n_exact / N_DOCS, 4),
        "near_dup_share": round(n_near / N_DOCS, 4),
        "embeddings": N_VECS,
        "vec_near_copy_share": round(len(copy_of) / N_VECS, 4),
    }


def _clock(minutes: int) -> str:
    return f"{minutes // 60:02d}:{minutes % 60:02d}:00"


def gen_transit(seed: int, out_dir: str) -> dict:
    """A GTFS feed of ``N_LINES * STATIONS_PER_LINE`` stations and
    ``N_CYCLES`` polling cycles of raw ``(station, xml)`` payloads.

    Layout: ``gtfs/*.txt``, ``cycles/c{NNN}.parquet`` and ``truth.parquet``
    (one row per train element written into a well-formed payload, with its
    cycle index), from which the oracle derives the expected lakehouse
    snapshot and delay board.
    """
    rng = np.random.default_rng([seed, 3])
    gtfs_dir, cyc_dir = f"{out_dir}/gtfs", f"{out_dir}/cycles"
    os.makedirs(gtfs_dir, exist_ok=True)
    os.makedirs(cyc_dir, exist_ok=True)
    n_st = N_LINES * STATIONS_PER_LINE
    codes = rng.choice(np.arange(10_000, 100_000), n_st, replace=False)
    stop7 = [f"87{c:05d}" for c in codes]
    uic8 = {s: s + str(int(c) % 10) for s, c in zip(stop7, codes)}

    trips, stop_times = [], []
    train_nums = rng.choice(np.arange(100_000, 1_000_000), 20_000, replace=False)
    # Headways and hop times are a seeded permutation of fixed lists, so the
    # schedule's size does not depend on the seed.
    headways = rng.permutation(np.resize(np.arange(6, 11), N_LINES))
    hops = rng.permutation(np.resize(np.arange(2, 5), N_LINES))
    t_i = 0
    for line in range(N_LINES):
        stations = stop7[line * STATIONS_PER_LINE : (line + 1) * STATIONS_PER_LINE]
        hop, headway = int(hops[line]), int(headways[line])
        for direction in (0, 1):
            seq = stations if direction == 0 else stations[::-1]
            first = 5 * 60 + int(rng.integers(0, headway))
            for dep in range(first, 11 * 60, headway):
                num = int(train_nums[t_i])
                t_i += 1
                # One trip in 25 runs on a weekend-only service: inactive today.
                service = "WEEKEND" if rng.random() < 0.04 else "WEEKDAY"
                trip_id = f"SNCF-{num}-L{line}"
                trips.append((f"L{line}", service, trip_id, seq[-1]))
                for k, st in enumerate(seq):
                    t = _clock(dep + k * hop)
                    stop_times.append((trip_id, t, t, st, k + 1))

    def csv(name: str, header: str, rows: list[tuple]) -> None:
        with open(f"{gtfs_dir}/{name}.txt", "w", encoding="utf-8", newline="\n") as f:
            f.write(header + "\n")
            f.writelines(",".join(str(v) for v in r) + "\n" for r in rows)

    csv("agency", "agency_id,agency_name,agency_url,agency_timezone",
        [("SNCF", "SNCF", "https://example.org", "Europe/Paris")])
    csv("stops", "stop_id,stop_name,stop_lat,stop_lon",
        [(s, f"Station {s}", 48.8 + i * 1e-3, 2.3 + i * 1e-3) for i, s in enumerate(stop7)])
    csv("routes", "route_id,agency_id,route_short_name,route_long_name,route_type",
        [(f"L{i}", "SNCF", f"L{i}", f"Line {i}", 2) for i in range(N_LINES)])
    csv("trips", "route_id,service_id,trip_id,trip_headsign",
        [(r, s, t, f"T{h}") for r, s, t, h in trips])
    csv("stop_times", "trip_id,arrival_time,departure_time,stop_id,stop_sequence", stop_times)
    csv("calendar",
        "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date",
        [("WEEKDAY", 1, 1, 1, 1, 1, 0, 0, "20260101", "20261231"),
         ("WEEKEND", 0, 0, 0, 0, 0, 1, 1, "20260101", "20261231")])
    csv("calendar_dates", "service_id,date,exception_type", [("WEEKDAY", "20261225", 2)])

    # Realtime model: each active train carries a delay that can grow
    # between polls; a share is delayed, a few are cancelled.
    active = {t for _, s, t, _ in trips if s == "WEEKDAY"}
    trip_num = {t: int(t.split("-")[1]) for t in active}
    base_delay = {t: (int(rng.integers(1, 12)) if rng.random() < DELAYED_SHARE else 0) for t in sorted(active)}
    cancelled = {t for t in sorted(active) if rng.random() < CANCELLED_SHARE}
    by_station: dict[str, list[tuple[int, str]]] = {s: [] for s in stop7}
    for trip_id, t, _, st, _ in stop_times:
        if trip_id in active:
            h, m, _ = t.split(":")
            by_station[st].append((int(h) * 60 + int(m), trip_id))
    for v in by_station.values():
        v.sort()

    day = dt.datetime.strptime(SERVICE_DAY, "%Y%m%d")
    truth_cols: dict[str, list] = {k: [] for k in ("cycle", "station7", "train_num", "sched_min", "expected_min", "status")}
    seen_before: set[tuple[str, int]] = set()
    n_obs = n_reobs = n_payloads = n_bad = 0
    for c in range(N_CYCLES):
        now = POLL_START_MIN + c * POLL_EVERY_MIN
        stations, payloads = [], []
        seen_now: set[tuple[str, int]] = set()
        for st in stop7:
            n_payloads += 1
            r = rng.random()
            stations.append(uic8[st])
            if r < MISSING_SHARE:
                payloads.append(None)
                n_bad += 1
                continue
            parts = [f'<?xml version="1.0" encoding="UTF-8"?><passages gare="{uic8[st]}">']
            deps = [(m, t) for m, t in by_station[st] if m + base_delay[t] >= now][:DEPARTURES_PER_POLL]
            for sched_min, trip_id in deps:
                num = trip_num[trip_id]
                drift = int(c // 10) if base_delay[trip_id] else 0
                if trip_id in cancelled:
                    exp, etat, status = sched_min, "<etat>Supprimé</etat>", "cancelled"
                elif base_delay[trip_id]:
                    exp, etat, status = sched_min + base_delay[trip_id] + drift, "<etat>Retardé</etat>", "delayed"
                else:
                    exp, etat, status = sched_min, "", "on_time"
                clock = (day + dt.timedelta(minutes=exp)).strftime("%d/%m/%Y %H:%M")
                parts.append(
                    f'<train><date mode="R">{clock}</date><num>{num}</num>'
                    f"<miss>M{num % 97:02d}</miss><term>{uic8[st]}</term>{etat}</train>"
                )
                if r >= MISSING_SHARE + MALFORMED_SHARE:
                    for k, v in zip(truth_cols, (c, st, num, sched_min, exp, status)):
                        truth_cols[k].append(v)
                    seen_now.add((st, num))
            parts.append("</passages>")
            xml = "".join(parts)
            if r < MISSING_SHARE + MALFORMED_SHARE:
                xml = xml[: len(xml) // 2]  # truncated payload: not parseable
                n_bad += 1
            payloads.append(xml)
        n_obs += len(seen_now)
        n_reobs += len(seen_now & seen_before)
        seen_before = seen_now
        _write(
            pa.table({"station": pa.array(stations, pa.string()), "xml": pa.array(payloads, pa.string())}),
            f"{cyc_dir}/c{c:03d}.parquet",
        )
    _write(pa.table(truth_cols), f"{out_dir}/truth.parquet")
    return {
        "stations": n_st,
        "trips": len(trips),
        "stop_times": len(stop_times),
        "cycles": N_CYCLES,
        "passages_per_cycle": round(n_obs / N_CYCLES, 1),
        "reobserved_share": round(n_reobs / max(1, n_obs), 4),
        "malformed_or_missing_share": round(n_bad / n_payloads, 4),
    }
