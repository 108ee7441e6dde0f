"""Seeded raw-input generator for the TPG pipeline workloads.

Writes the three raw formats the `graft.tpg` ingests parse -- a GTFS ZIP,
one semicolon IstDaten CSV per service day and one '-'-as-NA MeteoSwiss CSV
per station -- plus `expected.json` with the row counts every gold table
must end up with.  The same seed always gives byte-identical files.

Properties the layers depend on, each planted on purpose:
  * ~10% of stop events appear twice under the same business key with a
    different status / estimate (the priority dedupe), ~1% as exact copies;
  * non-TPG and non-Bus/Tram rows (the ingest filters);
  * one day file in ISO-8859-1 with accented stop names (charset fallback);
  * duplicate weather timestamps (the median dedupe), missing timestamps
    (AS-OF misses) and unparseable ones (dropped);
  * Zipf-skewed line popularity (skewed by-stop-line groups and windows);
  * GTFS routes, trips and stops of a second operator (the semi-join
    cascade prunes them).

Usage: python3 gen.py <outDir> <seed> [eventsPerDay]
"""
import io
import json
import os
import random
import sys
import zipfile

DAYS = 30
LINES = [str(i) for i in range(1, 31)]
N_STOPS = 400
GTFS_TRIPS = 500
STATIONS = ("GVE", "BER")
IST_HEADER = ("BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;"
              "LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;ANKUNFTSZEIT;AN_PROGNOSE;"
              "AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;"
              "DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF")
W_HEADER = ("station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;"
            "fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0")


def stop_name(i):
    # every 7th stop carries an accent, so the Latin-1 day is not UTF-8
    return f"Genève Arrêt {i}" if i % 7 == 0 else f"Stop {i}"


def hhmmss(sec):
    return f"{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def gen_gtfs(rng, path):
    """GTFS ZIP with a TPG agency and a second one the cascade must prune."""
    routes = [(f"R{l}", l, "881") for l in LINES] + \
             [(f"RX{k}", f"X{k}", "11") for k in range(1, 4)]
    trips, stop_times, used_stops = [], [], set()
    for t in range(1, GTFS_TRIPS + 1):
        rid, _, agency = routes[rng.randrange(len(routes))]
        trips.append((f"T{t}", rid, f"S{t % 3}", t % 2))
        base = rng.randrange(5 * 3600, 23 * 3600)
        stops = rng.sample(range(1, N_STOPS + 1), 12)
        for sq, st in enumerate(stops, 1):
            arr = base + sq * 90
            stop_times.append((f"T{t}", sq, f"ST{st}", hhmmss(arr), hhmmss(arr + 30)))
        if agency == "881":
            used_stops.update(f"ST{st}" for st in stops)
    # a past-midnight overflow stop time (GTFS allows hour > 24)
    stop_times.append(("T1", 13, "ST1", "25:10:00", "25:10:30"))
    kept_trip_ids = {t for t, r, _, _ in trips if not r.startswith("RX")}
    if "T1" in kept_trip_ids:
        used_stops.add("ST1")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("feed_info.txt", "feed_version\n2024-06-BENCH\n")
        z.writestr("agency.txt", "agency_id,agency_name\n"
                   "881,Transports Publics Genevois\n11,Other Operator\n")
        z.writestr("routes.txt", "route_id,route_type,route_short_name,agency_id\n" +
                   "".join(f"{r},3,{s},{a}\n" for r, s, a in routes))
        z.writestr("trips.txt", "trip_id,route_id,service_id,direction_id\n" +
                   "".join(f"{t},{r},{s},{d}\n" for t, r, s, d in trips))
        z.writestr("stop_times.txt",
                   "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n" +
                   "".join(f"{a},{b},{c},{d},{e}\n" for a, b, c, d, e in stop_times))
        z.writestr("stops.txt", "stop_id,stop_name,stop_lat,stop_lon\n" + "".join(
            f"ST{i},{stop_name(i)},46.{2000 + i},6.{1000 + i}\n"
            for i in range(1, N_STOPS + 31)))
    with open(path, "wb") as f:
        f.write(buf.getvalue())
    return {
        "gtfs_routes": len(LINES),
        "gtfs_trips": len(kept_trip_ids),
        "gtfs_stop_times": sum(1 for st in stop_times if st[0] in kept_trip_ids),
        "gtfs_stops": len(used_stops),
    }


def gen_weather(rng, wdir, days):
    """One CSV per station on the 10-minute grid.  GVE misses fewer slots
    than BER, so GVE is the dominant station the features build picks."""
    present = {}
    rows_raw = 0
    for st, miss in zip(STATIONS, (0.03, 0.08)):
        lines = [W_HEADER]
        slots = set()
        for d in range(1, days + 1):
            for slot in range(144):
                if rng.random() < miss:
                    continue
                h, m = divmod(slot * 10, 60)
                ts = f"{d:02d}.06.2024 {h:02d}:{m:02d}"
                copies = 2 if rng.random() < 0.02 else 1
                for _ in range(copies):
                    rain = "-" if rng.random() < 0.1 else f"{rng.randrange(40) / 10:.1f}"
                    lines.append(
                        f"{st};{ts};{10 + rng.randrange(200) / 10:.1f};{rain};"
                        f"{rng.randrange(400) / 10:.1f};{rng.randrange(500) / 10:.1f};"
                        f"{rng.randrange(360)};{40 + rng.randrange(60)};"
                        f"{980 + rng.randrange(50)};{rng.randrange(800)};"
                        f"{rng.randrange(10)};{5 + rng.randrange(150) / 10:.1f}")
                    rows_raw += 1
                slots.add((d, slot))
        # unparseable timestamps: dropped at ingest
        lines.append(f"{st};-;1.0;0.0;1.0;1.0;1;50;1000;1;1;1.0")
        lines.append(f"{st};31.06.2024 25:00;1.0;0.0;1.0;1.0;1;50;1000;1;1;1.0")
        present[st] = slots
        with open(os.path.join(wdir, f"ogd-smn_{st.lower()}_t_recent.csv"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    return present, rows_raw


def gen_istdaten(rng, idir, days, per_day, gve_slots):
    zipf = [1.0 / (k ** 1.1) for k in range(1, len(LINES) + 1)]
    line_stops = {l: rng.sample(range(1, N_STOPS + 1), 20) for l in LINES}
    latin1_day = rng.randrange(1, days + 1)
    events = groups = matched = rows_raw = 0
    bins = set()
    for d in range(1, days + 1):
        dmy = f"{d:02d}.06.2024"
        rows = [IST_HEADER]
        for i in range(per_day):
            line = rng.choices(LINES, zipf)[0]
            stop = rng.choice(line_stops[line])
            sched = rng.randrange(5 * 3600, 24 * 3600 - 60) // 60 * 60
            delay = int(rng.expovariate(1 / 90.0)) - 30
            est = min(sched + delay, 24 * 3600 - 1)
            kind = rng.random()
            op, prod = "TPG", ("Tram" if rng.random() < 0.2 else "Bus")
            if kind < 0.05:
                op = "SBB"
            elif kind < 0.08:
                prod = "Zug"
            status = rng.choice(("REAL", "REAL", "GESCHAETZT", "PROGNOSE"))
            arr_only = rng.random() < 0.05

            def row(st, est_s):
                s, e = f"{dmy} {hhmmss(sched)}", f"{dmy} {hhmmss(est_s)}"
                dep_s, dep_e = ("", "") if arr_only else (s, e)
                return (f"{dmy};85:881:{d}-{i};{op};{prod};{line};{stop_name(stop)};"
                        f"{8587000 + stop};{s};{e};{st};{dep_s};{dep_e};{st};0;0;0")
            rows.append(row(status, est))
            r = rng.random()
            if r < 0.10:    # same business key, other status and estimate
                rows.append(row("PROGNOSE", max(sched, est - 60)))
            elif r < 0.11:  # exact copy
                rows.append(rows[-1])
            if op == "TPG" and prod != "Zug":
                events += 1
                b = sched // 600
                bins.add((line, stop, d, b))
                if (d, b) in gve_slots:
                    matched += 1
        rows_raw += len(rows) - 1
        enc = "iso-8859-1" if d == latin1_day else "utf-8"
        with open(os.path.join(idir, f"2024-06-{d:02d}_istdaten.csv"), "w",
                  encoding=enc) as f:
            f.write("\n".join(rows) + "\n")
    return events, len(bins), matched, rows_raw, latin1_day


def generate(out, seed, per_day):
    rng = random.Random(seed)
    idir, wdir = os.path.join(out, "istdaten"), os.path.join(out, "weather")
    os.makedirs(idir, exist_ok=True)
    os.makedirs(wdir, exist_ok=True)
    expected = gen_gtfs(rng, os.path.join(out, "gtfs.zip"))
    present, w_raw = gen_weather(rng, wdir, DAYS)
    events, groups, matched, ist_raw, latin1_day = gen_istdaten(
        rng, idir, DAYS, per_day, present["GVE"])
    expected.update({
        "ist_events": events,
        "weather_obs": sum(len(s) for s in present.values()),
        "features": events,
        "by_stop_line": groups,
        "training_rows": events,
        "asof_matched": matched,
        "ist_raw_rows": ist_raw,
        "weather_raw_rows": w_raw,
        "latin1_day": latin1_day,
    })
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]),
                              int(sys.argv[3]) if len(sys.argv) > 3 else 500)))
