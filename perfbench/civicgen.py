"""Seeded, US-shaped civic corpus for the civic_refresh workload.

Writes, under one output directory:

  shp/districts.{shp,dbf}  435 congressional districts (+2 "ZZ" sentinels)
  areas.jsonl              state and ZIP polygons as GeoJSON features
  people/*.yml             OpenStates-style YAML, one file per member
  docs/*.json              bill and vote-event JSON docs of the initial load
  batches/bNNN/...         change batches: new bills, roll calls, moved members
  truth.json               ground truth: lookups, voter matches, and per batch
                           a digest of each warehouse table's keys

All geometry is axis-aligned rectangles on integer coordinates, so the
closed-set intersection the spatial join computes is exact in doubles and
the generator can compute the expected ZIP-to-legislator answer itself.
Voter names carry fuzzy variants (state suffix, accent, first-name typo)
that each resolve to exactly one member; a few voters match nobody.

The same seed always produces byte-identical files.

  python3 civicgen.py <out_dir> <seed> [n_batches]
"""

import hashlib
import json
import os
import random
import struct
import sys

# (fips, abbreviation, name, seats) — 2020 apportionment, 435 seats
STATES = [
    ("01", "AL", "Alabama", 7), ("02", "AK", "Alaska", 1),
    ("04", "AZ", "Arizona", 9), ("05", "AR", "Arkansas", 4),
    ("06", "CA", "California", 52), ("08", "CO", "Colorado", 8),
    ("09", "CT", "Connecticut", 5), ("10", "DE", "Delaware", 1),
    ("12", "FL", "Florida", 28), ("13", "GA", "Georgia", 14),
    ("15", "HI", "Hawaii", 2), ("16", "ID", "Idaho", 2),
    ("17", "IL", "Illinois", 17), ("18", "IN", "Indiana", 9),
    ("19", "IA", "Iowa", 4), ("20", "KS", "Kansas", 4),
    ("21", "KY", "Kentucky", 6), ("22", "LA", "Louisiana", 6),
    ("23", "ME", "Maine", 2), ("24", "MD", "Maryland", 8),
    ("25", "MA", "Massachusetts", 9), ("26", "MI", "Michigan", 13),
    ("27", "MN", "Minnesota", 8), ("28", "MS", "Mississippi", 4),
    ("29", "MO", "Missouri", 8), ("30", "MT", "Montana", 2),
    ("31", "NE", "Nebraska", 3), ("32", "NV", "Nevada", 4),
    ("33", "NH", "New Hampshire", 2), ("34", "NJ", "New Jersey", 12),
    ("35", "NM", "New Mexico", 3), ("36", "NY", "New York", 26),
    ("37", "NC", "North Carolina", 14), ("38", "ND", "North Dakota", 1),
    ("39", "OH", "Ohio", 15), ("40", "OK", "Oklahoma", 5),
    ("41", "OR", "Oregon", 6), ("42", "PA", "Pennsylvania", 17),
    ("44", "RI", "Rhode Island", 2), ("45", "SC", "South Carolina", 7),
    ("46", "SD", "South Dakota", 1), ("47", "TN", "Tennessee", 9),
    ("48", "TX", "Texas", 38), ("49", "UT", "Utah", 4),
    ("50", "VT", "Vermont", 1), ("51", "VA", "Virginia", 11),
    ("53", "WA", "Washington", 10), ("54", "WV", "West Virginia", 2),
    ("55", "WI", "Wisconsin", 8), ("56", "WY", "Wyoming", 1),
]
AT_LARGE = {"AK", "DE", "ND", "SD", "VT", "WY"}  # districtNumber's list, minus DC

CELL = 6       # district cell side
ZIP = 4        # ZIP lattice step: straddles district lines on purpose
PITCH = 60     # state origin spacing (> widest state, so states never touch)
AS_OF = "2026-01-01 00:00:00"
HOUSE_PER_BUILD, SENATE_PER_BUILD = 8, 4

FIRST = ["James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
         "Linda", "David", "Elizabeth", "William", "Barbara", "Richard",
         "Susan", "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen",
         "Daniel", "Nancy", "Matthew", "Lisa", "Anthony", "Betty", "Mark",
         "Margaret", "Donald", "Sandra", "Steven", "Ashley", "Andrew",
         "Kimberly", "Joshua", "Emily", "Kenneth", "Donna", "Kevin",
         "Michelle", "Brian", "Carol", "George", "Amanda", "Timothy",
         "Melissa", "Ronald", "Deborah", "Edward", "Stephanie"]
ONSET = ["b", "br", "c", "ch", "d", "f", "g", "gr", "h", "k", "l", "m", "n",
         "p", "r", "s", "st", "t", "th", "v", "w"]
VOWEL = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
CODA = ["rton", "lson", "nder", "mley", "rcott", "wick", "field", "ham",
        "ridge", "stead", "well", "mont", "ford", "ley", "by", "ton"]
ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú"}
PARTIES = ["D", "R"]


def rect(x0, y0, x1, y1):
    return (x0, y0, x1, y1)


def closed_overlap(a, b):
    """Closed-rectangle intersection: touching edges intersect, as in JTS."""
    return a[0] <= b[2] and b[0] <= a[2] and a[1] <= b[3] and b[1] <= a[3]


def geojson(r):
    x0, y0, x1, y1 = r
    ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]},
                      separators=(",", ":"))


# ---------------------------------------------------------------------------
# shapefile writer (polygon records + dBASE III attributes)
# ---------------------------------------------------------------------------

def write_shapefile(base, records, fields):
    """records: [(rect, {field: value})]; fields: [(name, type, length)]."""
    contents = []
    for r, _ in records:
        x0, y0, x1, y1 = r
        # ESRI shells run clockwise
        pts = [(x0, y0), (x0, y1), (x1, y1), (x1, y0), (x0, y0)]
        body = struct.pack("<i4d2i", 5, x0, y0, x1, y1, 1, len(pts))
        body += struct.pack("<i", 0)
        body += b"".join(struct.pack("<2d", x, y) for x, y in pts)
        contents.append(body)
    xs0 = min(r[0] for r, _ in records); ys0 = min(r[1] for r, _ in records)
    xs1 = max(r[2] for r, _ in records); ys1 = max(r[3] for r, _ in records)
    total = 100 + sum(8 + len(c) for c in contents)
    header = struct.pack(">7i", 9994, 0, 0, 0, 0, 0, total // 2)
    header += struct.pack("<2i", 1000, 5)
    header += struct.pack("<8d", xs0, ys0, xs1, ys1, 0, 0, 0, 0)
    with open(base + ".shp", "wb") as f:
        f.write(header)
        for i, c in enumerate(contents):
            f.write(struct.pack(">2i", i + 1, len(c) // 2))
            f.write(c)

    rec_size = 1 + sum(n for _, _, n in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    with open(base + ".dbf", "wb") as f:
        f.write(struct.pack("<4BIHH20x", 3, 125, 1, 1, len(records),
                            hdr_size, rec_size))
        for name, typ, length in fields:
            f.write(struct.pack("<11sc4xBB14x", name.encode("ascii"),
                                typ.encode("ascii"), length, 0))
        f.write(b"\r")
        for _, attrs in records:
            f.write(b" ")
            for name, typ, length in fields:
                v = str(attrs[name])
                v = v.rjust(length) if typ == "N" else v.ljust(length)
                f.write(v.encode("ascii")[:length])
        f.write(b"\x1a")


# ---------------------------------------------------------------------------
# YAML / JSON docs
# ---------------------------------------------------------------------------

def q(s):
    return json.dumps(s, ensure_ascii=False)


def person_yaml(p):
    lines = [f"id: {q(p['id'])}", f"name: {q(p['name'])}",
             f"given_name: {q(p['first'])}", f"family_name: {q(p['last'])}",
             f"email: {q(p['email'])}",
             "ids:", f"  bioguide: {q(p['bioguide'])}",
             "links:", f"  - url: {q('https://example.gov/' + p['bioguide'])}",
             "    note: homepage",
             "roles:"]
    for r in p["roles"]:
        lines += [f"  - type: {r['type']}", f"    district: {q(r['district'])}",
                  "    jurisdiction: ocd-jurisdiction/country:us/government",
                  f"    start_date: {q(r['start'])}",
                  f"    end_date: {q(r['end'])}"]
    return "\n".join(lines) + "\n"


def bill_doc(b):
    return {
        "identifier": b["identifier"], "title": b["title"],
        "legislative_session": "119th",
        "from_organization": "~" + json.dumps({"classification": b["chamber"]}),
        "subject": [], "classification": ["bill"],
        "abstracts": [{"abstract": b["title"] + ".", "note": "summary"}],
        "sponsorships": [{"name": b["sponsor"], "classification": "primary",
                          "entity_type": "person", "primary": True}],
        "actions": [{"date": d, "description": desc}
                    for d, desc in b["actions"]],
        "sources": [{"url": "https://example.gov/" + b["identifier"],
                     "note": "source"}],
    }


def vote_doc(e):
    options = [v[0] for v in e["votes"]]
    return {
        "identifier": e["identifier"], "legislative_session": "119",
        "motion_text": e["motion"], "start_date": e["date"],
        "result": e["result"],
        "bill": "~" + json.dumps({"identifier": e["bill"]}),
        "organization": "~" + json.dumps({"classification": e["chamber"]}),
        "motion_classification": ["passage"],
        "counts": [{"option": o, "value": options.count(o)}
                   for o in ("yes", "no", "not voting")],
        "votes": [{"option": o, "voter_name": n, "voter_id": "", "note": ""}
                  for o, n, _ in e["votes"]],
    }


def dump(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


# ---------------------------------------------------------------------------
# the corpus
# ---------------------------------------------------------------------------

class Corpus:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.states, self.districts, self.zips = [], [], []
        self.people = {}          # id -> person dict (current version)
        self.bills = []
        self.bill_no = 0
        self.event_no = 0
        self._geography()
        self._members()

    # -- geography ---------------------------------------------------------
    def _geography(self):
        for i, (fips, ab, name, seats) in enumerate(STATES):
            ox, oy = (i % 10) * PITCH, (i // 10) * PITCH
            cols = 1
            while cols * cols < seats:
                cols += 1
            rows = (seats + cols - 1) // cols
            st = {"fips": fips, "ab": ab, "name": name, "seats": seats,
                  "id": f"ocd-division/country:us/state:{ab.lower()}",
                  "rect": rect(ox, oy, ox + cols * CELL, oy + rows * CELL)}
            self.states.append(st)
            for k in range(seats):
                cx, cy = ox + (k % cols) * CELL, oy + (k // cols) * CELL
                num = "at-large" if ab in AT_LARGE else str(k + 1)
                self.districts.append({
                    "state": ab, "fips": fips,
                    "dist": "00" if ab in AT_LARGE else f"{k + 1:02d}",
                    "num": num, "label": f"{ab}-{'AL' if ab in AT_LARGE else k + 1}",
                    "id": f"ocd-division/country:us/state:{ab.lower()}/cd:{num}",
                    "rect": rect(cx, cy, cx + CELL, cy + CELL)})
            x0, y0, x1, y1 = st["rect"]
            for zy in range(y0, y1, ZIP):
                for zx in range(x0, x1, ZIP):
                    r = rect(zx, zy, min(zx + ZIP, x1), min(zy + ZIP, y1))
                    code = f"{len(self.zips) + 10001:05d}"
                    self.zips.append({
                        "id": f"ocd-division/country:us/zipcode:{code}",
                        "name": f"ZIP {code}", "state": ab, "rect": r})

    # -- people ------------------------------------------------------------
    def _last_name(self, used):
        while True:
            n = (self.rng.choice(ONSET) + self.rng.choice(VOWEL) +
                 self.rng.choice(ONSET[:12]) + self.rng.choice(VOWEL) +
                 self.rng.choice(CODA)).capitalize()
            if n not in used:
                used.add(n)
                return n

    def _members(self):
        used = set()
        self.by_district = {d["id"]: d for d in self.districts}
        self.state_by_ab = {s["ab"]: s for s in self.states}
        seq = 0

        def new_person(chamber, state, district_label, area_id):
            nonlocal seq
            seq += 1
            first, last = self.rng.choice(FIRST), self._last_name(used)
            pid = "ocd-person/%08x-0000-4000-8000-%012x" % (
                self.rng.getrandbits(32), seq)
            role = {"type": chamber, "district": district_label,
                    "start": "2025-01-03", "end": "2027-01-03"}
            roles = [role]
            if self.rng.random() < 0.25:  # a past term exercises RoleResolution
                roles = [{"type": chamber, "district": district_label,
                          "start": "2021-01-03", "end": "2023-01-03"}, role]
            p = {"id": pid, "first": first, "last": last,
                 "name": f"{first} {last}", "party": self.rng.choice(PARTIES),
                 "email": f"{first.lower()}.{last.lower()}@example.gov",
                 "bioguide": "%s%06d" % (last[0], seq),
                 "chamber": chamber, "state": state, "area": area_id,
                 "roles": roles}
            self.people[pid] = p
            return p

        for d in self.districts:
            new_person("lower", d["state"], d["label"], d["id"])
        for s in self.states:
            for _ in range(2):
                new_person("upper", s["ab"], s["name"], s["id"])

    def area_rect(self, area_id):
        if area_id in self.by_district:
            return self.by_district[area_id]["rect"]
        return next(s["rect"] for s in self.states if s["id"] == area_id)

    def edges(self):
        return [f"{p['id']}|{z['id']}" for p in self.people.values()
                for z in self.zips
                if closed_overlap(self.area_rect(p["area"]), z["rect"])]

    def table_digests(self, events):
        """Key digests of the warehouse as of now (see key_digest)."""
        return {
            "areas": key_digest([d["id"] for d in self.districts] +
                                [s["id"] for s in self.states] +
                                [z["id"] for z in self.zips]),
            "people": key_digest([f"{p['id']}|{p['area']}"
                                  for p in self.people.values()]),
            "bills": key_digest([b["identifier"] for b in self.bills]),
            "vote_events": key_digest([e["identifier"] for e in events]),
            "person_area_edges": key_digest(self.edges()),
        }

    def members_for_zip(self, z):
        return sorted(p["id"] for p in self.people.values()
                      if closed_overlap(self.area_rect(p["area"]), z["rect"]))

    # -- bills and roll calls -------------------------------------------------
    def new_bill(self):
        self.bill_no += 1
        chamber = self.rng.choice(["lower", "upper"])
        prefix = "HR" if chamber == "lower" else "S"
        sponsor = self.rng.choice(sorted(self.people))
        day = 1 + self.rng.randrange(28)
        b = {"identifier": f"{prefix} {self.bill_no}",
             "title": f"An Act concerning matter {self.bill_no}",
             "chamber": chamber, "sponsor": self.people[sponsor]["name"],
             "actions": [(f"2025-02-{day:02d}T00:00:00+00:00", "introduced"),
                         (f"2025-03-{day:02d}", "reported")]}
        self.bills.append(b)
        return b

    def voter_name(self, p):
        """A name variant that resolves to exactly p under the matcher."""
        first, last, tag = p["first"], p["last"], f"({p['party']}-{p['state']})"
        kind = self.rng.randrange(5)
        if kind == 0:
            return last
        if kind == 1:
            return f"{last} {tag}"
        if kind == 2:
            return p["name"]
        if kind == 3:  # accent on the vote side only: unaccent restores it
            i = next((k for k, c in enumerate(last) if c in ACCENT), None)
            if i is None:
                return f"{last} {tag}"
            return f"{last[:i]}{ACCENT[last[i]]}{last[i + 1:]} {tag}"
        i = self.rng.randrange(len(first) - 1)  # swapped letters in the first name
        typo = first[:i] + first[i + 1] + first[i] + first[i + 2:]
        return f"{typo} {last} {tag}"

    def new_event(self, chamber, bill_identifier):
        self.event_no += 1
        members = sorted(pid for pid, p in self.people.items()
                         if p["chamber"] == chamber)
        votes = []
        for pid in members:
            if self.rng.random() < 0.1:
                continue  # absent
            option = self.rng.choice(["yes", "yes", "no", "not voting"])
            votes.append((option, self.voter_name(self.people[pid]), pid))
        for k in range(2):  # clerks' typos that match nobody
            votes.append(("yes", f"Qzx{self.event_no}{k} Vwqj", None))
        self.rng.shuffle(votes)
        day = 1 + self.rng.randrange(28)
        e = {"identifier": f"{'house' if chamber == 'lower' else 'senate'}-roll-{self.event_no:05d}",
             "motion": "On passage", "date": f"2025-04-{day:02d}T12:00:00+00:00",
             "result": self.rng.choice(["pass", "fail"]), "bill": bill_identifier,
             "chamber": chamber, "votes": votes}
        return e

    def orphan_event(self):
        """A roll call on a bill nobody filed: the J2 semi-join drops it."""
        return self.new_event("upper", f"S 9{self.event_no:05d}")

    def move_member(self):
        """Redistricting: a House member takes another seat in the same state."""
        movable = [p for p in self.people.values()
                   if p["chamber"] == "lower" and
                   self.state_by_ab[p["state"]]["seats"] > 1]
        p = self.rng.choice(sorted(movable, key=lambda x: x["id"]))
        seats = [d for d in self.districts
                 if d["state"] == p["state"] and d["id"] != p["area"]]
        d = self.rng.choice(seats)
        old = dict(p["roles"][-1])
        old["end"] = "2025-06-30"
        p["roles"] = [old, {"type": "lower", "district": d["label"],
                            "start": "2025-07-01", "end": "2027-01-03"}]
        p["area"] = d["id"]
        return p


def key_digest(lines):
    """The digest run.py compares with the warehouse's key listing."""
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def voted(events, pid):
    return sorted([e["identifier"], o] for e in events
                  for o, _, who in e["votes"] if who == pid)


def generate(out, seed, n_batches=16):
    c = Corpus(seed)
    rng = c.rng

    # areas: districts (+ sentinels) as a shapefile, states and ZIPs as GeoJSON
    recs = [(d["rect"], {"STATEFP": d["fips"], "DIST": d["dist"],
                         "ALAND": CELL * CELL * 1000})
            for d in c.districts]
    recs += [(rect(-20, -20, -18, -18), {"STATEFP": "06", "DIST": "ZZ",
                                         "ALAND": 0}),
             (rect(-30, -20, -28, -18), {"STATEFP": "48", "DIST": "ZZ",
                                         "ALAND": 0})]
    os.makedirs(os.path.join(out, "shp"), exist_ok=True)
    write_shapefile(os.path.join(out, "shp", "districts"), recs,
                    [("STATEFP", "C", 2), ("DIST", "C", 2), ("ALAND", "N", 14)])
    areas = [{"id": s["id"], "name": s["name"], "classification": "state",
              "fips": s["fips"], "abbreviation": s["ab"],
              "geojson": geojson(s["rect"])} for s in c.states]
    areas += [{"id": z["id"], "name": z["name"], "classification": "zipcode",
               "fips": "", "abbreviation": z["state"],
               "geojson": geojson(z["rect"])} for z in c.zips]
    dump(os.path.join(out, "areas.jsonl"),
         "".join(json.dumps(a, sort_keys=True) + "\n" for a in areas))

    def write_people(d, people):
        for p in people:
            dump(os.path.join(d, "people", p["id"].split("/")[1] + ".yml"),
                 person_yaml(p))

    def write_docs(d, bills, events):
        for b in bills:
            dump(os.path.join(d, "docs", "bill_%s.json" %
                              b["identifier"].replace(" ", "_")),
                 json.dumps(bill_doc(b), indent=1, ensure_ascii=False))
        for e in events:
            dump(os.path.join(d, "docs", "vote_event_%s.json" % e["identifier"]),
                 json.dumps(vote_doc(e), indent=1, ensure_ascii=False))

    # initial load
    bills = [c.new_bill() for _ in range(30)]
    events = [c.new_event("lower", rng.choice(bills)["identifier"])
              for _ in range(HOUSE_PER_BUILD)]
    events += [c.new_event("upper", rng.choice(bills)["identifier"])
               for _ in range(SENATE_PER_BUILD)]
    orphans = [c.orphan_event()]
    write_people(out, sorted(c.people.values(), key=lambda p: p["id"]))
    write_docs(out, bills, events + orphans)
    kept = list(events)

    batches = []
    for b in range(n_batches):
        d = os.path.join(out, "batches", "b%03d" % b)
        nb = [c.new_bill() for _ in range(2)]
        ne = [c.new_event("lower", rng.choice(c.bills)["identifier"]),
              c.new_event("upper", rng.choice(c.bills)["identifier"])]
        moved = [c.move_member()]
        write_people(d, moved)
        write_docs(d, nb, ne)
        kept += ne
        zips = [rng.choice(c.zips) for _ in range(3)]
        persons = [rng.choice([e[2] for e in ne[0]["votes"] if e[2]]),
                   rng.choice([e[2] for e in ne[1]["votes"] if e[2]])]
        batches.append({
            "dir": "batches/b%03d" % b, "tables": c.table_digests(kept),
            "lookups": [{"kind": "zip", "key": z["id"],
                         "expect": c.members_for_zip(z)} for z in zips] +
                       [{"kind": "person", "key": pid,
                         "expect": voted(kept, pid)} for pid in persons]})

    votes = {}
    for e in kept:
        for pos, (_, _, who) in enumerate(e["votes"]):
            votes[f"{e['identifier']}#{pos}"] = who
    truth = {
        "seed": seed, "as_of": AS_OF, "voters": votes,
        "batches": batches,
    }
    dump(os.path.join(out, "truth.json"), json.dumps(truth, sort_keys=True))
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 40)
