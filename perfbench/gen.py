"""Seeded input generator for the benchmark workloads.

Everything the program reads is produced here from ``--seed``; the same
seed and sizes give byte-identical files.  The generator also computes the
answers the benchmark checks against (summary counts, per-date cache
counts) and self-checks the rates it planted.

    python3 perfbench/gen.py --workload daily_etl --seed 1 --out DIR [--tiny]
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import sys
from zoneinfo import ZoneInfo

CHICAGO = ZoneInfo("America/Chicago")
UTC = dt.timezone.utc

# Input sizes.  The workload shapes follow the reference's daily run
# (31 scrape dates, 40% re-scrape overlap, ~1% blank artist names, ~20%
# missing descriptions); the counts are scaled so one daily run fits the
# benchmark's per-run time budget on a 4-core box.
SIZES = {
    "full": dict(dates=7, events_per_date=40, venues=60, artists=1500,
                 runs=16, serve_past_days=7, serve_ops=20000, similar_queries=16,
                 day_events=20000, day_users=150),
    "tiny": dict(dates=3, events_per_date=6, venues=8, artists=60,
                 runs=4, serve_past_days=2, serve_ops=400, similar_queries=4,
                 day_events=600, day_users=20),
}

OVERLAP = 0.40        # share of a run's events re-scraped from the previous run
BLANK = 0.01          # share of a run's events with a blank artist name
MISSING_DESC = 0.20   # share of a run's events listed without a description
CHANGED_DESC = 0.25   # share of re-scraped events whose description changed

GENRES = ["Jazz", "Blues", "Funk", "R&B", "Gospel", "Zydeco", "Cajun",
          "Brass Band", "Second Line", "Bounce", "Rock", "Latin"]
FIRST = ["Ellis", "Kermit", "Irma", "Trombone", "Big", "Little", "Doctor",
         "Lady", "Rebirth", "Dirty", "Hot", "Preservation", "Soul", "Treme",
         "Bayou", "Crescent", "Marigny", "Bywater", "Magnolia", "Cypress"]
LAST = ["Quartet", "Trio", "Brass", "Ramblers", "Stompers", "Revue",
        "Collective", "Orchestra", "Band", "Allstars", "Players", "Kings",
        "Queens", "Project", "Social Club", "Experience"]
WORDS = ["night", "groove", "brass", "late", "set", "dance", "second",
         "line", "tribute", "special", "guest", "album", "release", "party",
         "jam", "session", "early", "show", "free", "cover"]
STREETS = ["Frenchmen St", "Oak St", "Napoleon Ave", "Decatur St",
           "Magazine St", "St Charles Ave", "Rampart St", "Tchoupitoulas St"]


def zipf_weights(n, s=1.0):
    return [1.0 / (k + 1) ** s for k in range(n)]


def write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, ensure_ascii=False))
            f.write("\n")


def write_json(path, obj):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        json.dump(obj, f, sort_keys=True, indent=1, ensure_ascii=False)
        f.write("\n")


def day(d0, k):
    return (dt.date.fromisoformat(d0) + dt.timedelta(days=k)).isoformat()


# ------------------------------------------------------------ the world

def make_world(rng, size):
    """Venues and artists with their detail pages; stable across runs."""
    venues = []
    for v in range(size["venues"]):
        name = f"{rng.choice(FIRST)} {rng.choice(['Hall', 'Lounge', 'Room', 'Bar', 'Club'])} {v}"
        street = f"{100 + rng.randrange(900)} {rng.choice(STREETS)}"
        active = rng.random() > 0.05
        html = (f'<div class="thoroughfare">{street}</div>\n'
                f'<span class="locality">New Orleans</span>\n'
                f'<span class="state">LA</span>\n'
                f'<span class="postal_code">701{v % 30:02d}</span>\n'
                f'<div class="field-name-field-url"><a href="https://venue{v}.example">site</a></div></div>\n'
                f'<div class="field-name-field-phone">Phone: 504-555-{v:04d}</div></div>\n'
                f'<div class="field-name-field-organization-status">'
                f'{"Active" if active else "Inactive"}</div></div>')
        venues.append(dict(href=f"/venues/{v}", name=name, html=html,
                           full_address=f"{street}, New Orleans, LA 701{v % 30:02d}"))
    names = [f"{rng.choice(FIRST)} {rng.choice(LAST)} {a}"
             for a in range(size["artists"])]
    index = {n: a for a, n in enumerate(names)}
    artists = []
    for a, name in enumerate(names):
        genres = rng.sample(GENRES, 1 + rng.randrange(3))
        related = sorted({names[rng.randrange(len(names))]
                          for _ in range(rng.randrange(4))} - {name})
        html = ('<div class="field-name-field-genres">\n  '
                + "".join(f'<a href="/genres/{g.lower()}">{g}</a>' for g in genres)
                + '\n</div></div>\n<span class="textformatter-list">\n  '
                + "".join(f'<a href="/artists/{index[r]}">{r}</a>'
                          for r in related)
                + '\n</div></div>')
        artists.append(dict(name=name, genres=genres, related=related, html=html))
    return venues, artists


def description(rng):
    return " ".join(rng.choice(WORDS) for _ in range(4 + rng.randrange(6)))


def new_event(rng, eid, date, venue_w, artist_w, size, blank):
    v = rng.choices(range(size["venues"]), weights=venue_w)[0]
    a = rng.choices(range(size["artists"]), weights=artist_w)[0]
    # 11:00am .. 11:30pm local, so evening shows cross midnight UTC
    minutes = 11 * 60 + 30 * rng.randrange(26)
    return dict(href=f"/events/{eid}", date=date, venue=v,
                artist=None if blank else a,
                hour=minutes // 60, minute=minutes % 60,
                desc=description(rng))


def time_text(e):
    h = e["hour"] % 12 or 12
    return f"{h}:{e['minute']:02d}{'am' if e['hour'] < 12 else 'pm'}"


def utc_date(e):
    local = dt.datetime.combine(dt.date.fromisoformat(e["date"]),
                                dt.time(e["hour"], e["minute"]), CHICAGO)
    return local.astimezone(UTC).date().isoformat()


def listing_html(events, venues, artists):
    """One wwoz-shaped listing page: a panel per venue, a row per event."""
    by_venue = {}
    for e in events:
        by_venue.setdefault(e["venue"], []).append(e)
    out = ['<div class="livewire-listing">']
    for v in sorted(by_venue):
        out.append('  <div class="panel panel-default">')
        out.append(f'    <h3 class="panel-title"><a href="{venues[v]["href"]}">'
                   f'{venues[v]["name"]}</a></h3>')
        out.append('    <div class="panel-body">')
        for e in by_venue[v]:
            name = "" if e["artist"] is None else artists[e["artist"]]["name"]
            genre = GENRES[0] if e["artist"] is None else artists[e["artist"]]["genres"][0]
            out.append('      <div class="row">')
            out.append('        <div class="calendar-info">')
            out.append(f'          <a href="{e["href"]}">{name}</a>')
            out.append(f'          <p>{genre.replace("&", "&amp;")}</p>')
            out.append(f'          <p>{time_text(e)}</p>')
            if e["desc"] is not None:
                out.append(f'          <p class="description">{e["desc"]}</p>')
            out.append('        </div>')
            out.append('      </div>')
        out.append('    </div>')
        out.append('  </div>')
    out.append('</div>')
    return "\n".join(out)


class Warehouse:
    """The generator's model of what the loader's warehouse must hold."""

    def __init__(self):
        self.events = {}            # href -> event (valid events only)
        self.artists = set()        # artist names (batch + related)
        self.venues = set()
        self.genres = set()

    def apply(self, batch, venues, artists):
        valid = [e for e in batch if e["artist"] is not None]
        created = [e for e in valid if e["href"] not in self.events]
        batch_artists = {artists[e["artist"]]["name"] for e in valid}
        batch_venues = {(venues[e["venue"]]["name"], venues[e["venue"]]["full_address"])
                        for e in valid}
        related = set()
        for e in valid:
            a = artists[e["artist"]]
            related |= {r for r in a["related"] if r != a["name"]}
        genres = {g for e in valid for g in artists[e["artist"]]["genres"]}
        summary = dict(
            events_validated=len(valid),
            events_quarantined=len(batch) - len(valid),
            events_created=len(created),
            artists_created=len(batch_artists - self.artists),
            venues_created=len(batch_venues - self.venues),
        )
        for e in created:
            self.events[e["href"]] = e
        self.artists |= batch_artists | related
        self.venues |= batch_venues
        self.genres |= genres
        summary["genres_total"] = len(self.genres)
        return summary

    def per_date_counts(self, dates):
        want = set(dates)
        counts = {d: 0 for d in dates}
        for e in self.events.values():
            d = utc_date(e)
            if d in want:
                counts[d] += 1
        return counts


def make_runs(rng, size, venues, artists, start, n_runs, first_window):
    """A chain of daily scrapes.  Run i scrapes `dates` dates from
    start+i; 40% of its events are re-scrapes of run i-1's valid events
    in the overlapping window, the rest are new listings."""
    venue_w = zipf_weights(size["venues"], 0.8)
    artist_w = zipf_weights(size["artists"], 1.0)
    next_id = [0]

    def fresh(date, blank):
        next_id[0] += 1
        return new_event(rng, next_id[0], date, venue_w, artist_w, size, blank)

    runs, prev = [], []
    for i in range(n_runs):
        n_dates = first_window if i == 0 else size["dates"]
        d0 = start if i == 0 else day(start, first_window - size["dates"] + i)
        dates = [day(d0, k) for k in range(n_dates)]
        per_date = {d: max(1, round(size["events_per_date"] * (0.75 + 0.5 * rng.random())))
                    for d in dates}
        total = sum(per_date.values())
        pool = [e for e in prev if e["artist"] is not None and e["date"] in per_date]
        n_re = min(round(OVERLAP * total), len(pool)) if i > 0 else 0
        re = rng.sample(pool, n_re)
        rescraped = []
        for e in re:
            e2 = dict(e)
            if e2["desc"] is None or rng.random() < CHANGED_DESC:
                e2["desc"] = description(rng)
            rescraped.append(e2)
        have = {}
        for e in rescraped:
            have[e["date"]] = have.get(e["date"], 0) + 1
        n_new = {d: max(0, per_date[d] - have.get(d, 0)) for d in dates}
        slots = [d for d in dates for _ in range(n_new[d])]
        n_blank = round(BLANK * total)
        blank_at = set(rng.sample(range(len(slots)), min(n_blank, len(slots))))
        new = [fresh(d, k in blank_at) for k, d in enumerate(slots)]
        batch = rescraped + new
        n_missing = round(MISSING_DESC * len(batch))
        for k in rng.sample(range(len(batch)), n_missing):
            batch[k]["desc"] = None
        batch.sort(key=lambda e: (e["date"], e["venue"], int(e["href"].split("/")[-1])))
        runs.append(dict(today=d0, dates=dates, events=batch, n_rescraped=n_re))
        prev = batch
    return runs


def check_rates(run, first):
    """Self-check of the planted rates (a generator bug fails loudly)."""
    n = len(run["events"])
    blank = sum(e["artist"] is None for e in run["events"])
    missing = sum(e["desc"] is None for e in run["events"])
    assert abs(missing / n - MISSING_DESC) < 0.5 / n + 1e-9, (missing, n)
    assert abs(blank - round(BLANK * n)) <= 1, (blank, n)
    if not first:
        assert abs(run["n_rescraped"] / n - OVERLAP) < 0.05 + 2 / n, (run["n_rescraped"], n)
    return dict(events=n, blank=blank, missing_desc=missing,
                rescraped=run["n_rescraped"])


def write_pages(out, venues, artists):
    write_jsonl(os.path.join(out, "venues.jsonl"),
                [dict(href=v["href"], html=v["html"]) for v in venues])
    write_jsonl(os.path.join(out, "artists.jsonl"),
                [dict(artist_name=a["name"], html=a["html"]) for a in artists])


def write_listings(path, run, venues, artists):
    by_date = {}
    for e in run["events"]:
        by_date.setdefault(e["date"], []).append(e)
    write_jsonl(path, [dict(scrape_date=d, html=listing_html(by_date.get(d, []), venues, artists))
                       for d in run["dates"]])


def gen_daily(seed, size, out):
    rng = random.Random(seed)
    venues, artists = make_world(rng, size)
    write_pages(out, venues, artists)
    runs = make_runs(rng, size, venues, artists, "2025-03-01",
                     size["runs"], size["dates"])
    wh = Warehouse()
    meta_runs = []
    for i, run in enumerate(runs):
        rates = check_rates(run, i == 0)
        write_listings(os.path.join(out, f"listings_{i:03d}.jsonl"), run, venues, artists)
        summary = wh.apply(run["events"], venues, artists)
        meta_runs.append(dict(today=run["today"], dates=run["dates"],
                              summary=summary, rates=rates,
                              cache_counts=wh.per_date_counts(run["dates"])))
    write_json(os.path.join(out, "meta.json"), dict(workload="daily_etl", seed=seed,
                                                   runs=meta_runs))


def gen_serve(seed, size, out):
    """The inputs of the daily run whose warehouse and cache the readers
    read (one scrape of the past week plus the cache window), the `day`
    op's events table and the readers' request schedule."""
    rng = random.Random(seed)
    venues, artists = make_world(rng, size)
    write_pages(out, venues, artists)
    past = size["serve_past_days"]
    boot = make_runs(rng, size, venues, artists, "2025-03-01", 1,
                     past + size["dates"])[0]
    rates = check_rates(boot, True)
    write_listings(os.path.join(out, "listings_000.jsonl"), boot, venues, artists)
    today = day("2025-03-01", past)
    window = [day(today, k) for k in range(size["dates"])]
    past_dates = [day("2025-03-01", k) for k in range(past)]
    wh = Warehouse()
    summary = wh.apply(boot["events"], venues, artists)

    date_w = zipf_weights(size["dates"])

    # the `day` op's events table (the shape of the engine's `events`)
    day_counts = write_day_events(rng, size, os.path.join(out, "events.parquet"))

    # query artists for `similar`: popular, valid names
    used = sorted({e["artist"] for e in boot["events"] if e["artist"] is not None})
    similar = [artists[a]["name"] for a in rng.sample(used, min(size["similar_queries"], len(used)))]

    # the readers' request mix
    ops, ops_w = ["hit", "miss", "day", "similar"], [60, 15, 10, 10]
    # stratified: every block of 19 requests holds the mix exactly, so
    # runs of different seeds see the same composition, in another order
    block = [o for o, w in zip(ops, ops_w) for _ in range(w // 5)]
    order = []
    while len(order) < size["serve_ops"]:
        rng.shuffle(block)
        order += block
    # miss, day and similar arguments go round their sets in seeded
    # orders, so every run sees the same share of first-time arguments
    # (the engine compiles new code for each new date literal)
    def rounds(items):
        while True:
            order = list(items)
            rng.shuffle(order)
            yield from order
    args = dict(miss=rounds(past_dates),
                day=rounds([day("2024-01-01", k) for k in range(30)]),
                similar=rounds(similar))
    schedule = []
    for op in order[:size["serve_ops"]]:
        if op == "hit":
            arg = window[rng.choices(range(size["dates"]), weights=date_w)[0]]
        else:
            arg = next(args[op])
        schedule.append([op, arg])
    mix = {o: sum(1 for s in schedule if s[0] == o) / len(schedule) for o in ops}
    for o, w in zip(ops, ops_w):
        assert abs(mix[o] - w / sum(ops_w)) < 0.05 + 3 / len(schedule) ** 0.5, (o, mix[o])
    write_json(os.path.join(out, "meta.json"), dict(
        workload="serve_reads", seed=seed, today=today, window=window,
        past_dates=past_dates, similar=similar, schedule=schedule,
        day_counts=day_counts, summary=summary, rates=rates,
        cache_counts=wh.per_date_counts(window),
        past_counts=wh.per_date_counts(past_dates)))


def write_day_events(rng, size, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = size["day_events"]
    base = dt.datetime(2024, 1, 1)
    span = 30 * 86400 * 10**6
    ts = sorted(rng.randrange(span) for _ in range(n))
    types = ["click", "signup", "error", "view", "purchase"]
    table = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([base + dt.timedelta(microseconds=t) for t in ts], pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(size["day_users"]) for _ in range(n)], pa.int64()),
        "event_type": pa.array([rng.choice(types) for _ in range(n)]),
        "value": pa.array([rng.randrange(1, 49000) / 100 for _ in range(n)], pa.float64()),
        "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n)]),
    })
    pq.write_table(table, path, compression="snappy")
    counts = {}
    for t in ts:
        d = (base + dt.timedelta(microseconds=t)).date().isoformat()
        counts[d] = counts.get(d, 0) + 1
    return counts


def digest(out):
    """SHA-256 over every generated file (names and bytes)."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out, tiny=False):
    size = SIZES["tiny" if tiny else "full"]
    os.makedirs(out, exist_ok=True)
    if workload == "daily_etl":
        gen_daily(seed, size, out)
    elif workload == "serve_reads":
        gen_serve(seed, size, out)
    else:
        raise SystemExit(f"unknown workload {workload}")
    return digest(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.out, a.tiny))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
