"""Seeded synthetic inputs for the benchmark.

Cricsheet match JSONs expand the shapes of the repository's six fixture
matches (src/test/resources/cricsheet/) to any number of matches:
missing event/city/outcome.by/player_of_match, no result with and
without innings, ties settled by super-over innings, single innings,
every kind of extra, and deliveries with two wickets.  Each corpus comes
with a ground-truth sidecar (``truth.tsv``) computed here, independently
of the program under test.

The stream workload's documents (with planted near-duplicates) and
embeddings (with planted near-neighbours) are JSON-lines batches.

The same seed gives byte-identical files: every random draw comes from
one ``random.Random(seed)``, JSON keys keep insertion order, and zip
entries carry a fixed timestamp.
"""

import datetime
import json
import math
import os
import random
import zipfile

TEAMS = [
    "Alpha", "Beta", "Gamma", "Delta", "Epsilon", "Zeta", "Eta", "Theta",
    "Iota", "Kappa", "Lambda", "Mu", "Nu", "Xi", "Omicron", "Pi",
    "Rho", "Sigma", "Tau", "Upsilon",
]
VENUES = [("Ground %d" % i, "City %d" % i) for i in range(40)]
EVENTS = ["Fixture Cup", "Series %d", "Tri-Series %d", "World Event %d"]
DISMISSALS = ["bowled", "caught", "lbw", "run out", "stumped", "caught and bowled"]
TRUTH_HEADER = ["match_id", "date", "team_1", "team_2", "team_1_total",
                "team_2_total", "deliveries", "winner"]
WORDS = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value column agg big vector a").split()
ZIP_TIME = (1980, 1, 1, 0, 0, 0)


def _players(team):
    return ["%s P%02d" % (team, i) for i in range(1, 12)]


def _delivery(rng, batters, bowler, wickets_left):
    """One ball: (dict, total_runs, legal, wickets_taken)."""
    striker, non_striker = batters
    d = {"batter": striker, "bowler": bowler, "non_striker": non_striker}
    extras = {}
    r = rng.random()
    if r < 0.03:
        extras["wides"] = rng.choice((1, 1, 1, 5))
    elif r < 0.045:
        extras["noballs"] = 1
    elif r < 0.06:
        extras["legbyes"] = rng.choice((1, 1, 4))
    elif r < 0.07:
        extras["byes"] = rng.choice((1, 4))
    elif r < 0.0712:
        extras["penalty"] = 5
    legal = "wides" not in extras and "noballs" not in extras
    batter_runs = 0
    if "wides" not in extras and "legbyes" not in extras and "byes" not in extras:
        batter_runs = rng.choice((0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 4, 4, 6))
    extra_runs = sum(extras.values())
    d["runs"] = {"batter": batter_runs, "extras": extra_runs,
                 "total": batter_runs + extra_runs}
    if extras:
        d["extras"] = extras
    taken = 0
    if wickets_left > 0 and rng.random() < 0.045:
        kind = rng.choice(DISMISSALS)
        w = {"player_out": striker, "kind": kind}
        if kind in ("caught", "run out", "stumped"):
            w["fielders"] = [{"name": bowler.replace(" P", " F")}]
        wk = [w]
        # multi-wicket ball: a run out of the non-striker on the same ball
        if wickets_left > 1 and rng.random() < 0.05:
            wk.append({"player_out": non_striker, "kind": "run out",
                       "fielders": [{"name": bowler.replace(" P", " G")}]})
        d["wickets"] = wk
        taken = len(wk)
    return d, d["runs"]["total"], legal, taken


def _innings(rng, team, opponent, overs, super_over=False):
    bats = _players(team)
    bowls = _players(opponent)[6:]
    next_in, wickets = 2, 0
    pair = [bats[0], bats[1]]
    out_overs, total, balls = [], 0, 0
    for over in range(overs):
        bowler = bowls[over % len(bowls)]
        dels, legal = [], 0
        while legal < 6 and wickets < 10:
            d, runs, ok, taken = _delivery(rng, tuple(pair), bowler, 10 - wickets)
            dels.append(d)
            total += runs
            legal += ok
            for _ in range(taken):
                wickets += 1
                if next_in < len(bats):
                    pair[0] = bats[next_in]
                    next_in += 1
            if runs % 2 == 1:
                pair.reverse()
        out_overs.append({"over": over, "deliveries": dels})
        balls += len(dels)
        pair.reverse()
        if wickets >= 10:
            break
    inn = {"team": team, "overs": out_overs}
    if super_over:
        inn["super_over"] = True
    return inn, total, balls


def make_match(rng, match_id, date):
    """One match dict plus its truth row."""
    t1, t2 = rng.sample(TEAMS, 2)
    venue, city = rng.choice(VENUES)
    info = {"match_type_number": match_id % 100000, "dates": [date]}
    if rng.random() > 0.1:
        ev = rng.choice(EVENTS)
        info["event"] = {"name": ev % rng.randint(1, 30) if "%" in ev else ev}
    info["venue"] = venue
    if rng.random() > 0.1:
        info["city"] = city
    info["teams"] = [t1, t2]
    toss = rng.choice((t1, t2))
    info["toss"] = {"winner": toss, "decision": rng.choice(("bat", "field"))}
    shape = rng.random()
    totals = {t1: 0, t2: 0}
    innings, balls = [], 0

    def play(team, opp, overs, so=False):
        nonlocal balls
        inn, tot, b = _innings(rng, team, opp, overs, so)
        innings.append(inn)
        totals[team] += tot
        balls += b
        return tot

    if shape < 0.03:
        # abandoned without a ball: no innings key at all
        outcome = {"result": "no result"}
    elif shape < 0.07:
        # single innings, then rain
        play(t1, t2, rng.randint(3, 20))
        outcome = {"result": "no result"}
    else:
        a = play(t1, t2, 20)
        b = play(t2, t1, 20)
        if shape < 0.10 or a == b:
            # tie, settled by a one-over eliminator each way
            sa = play(t2, t1, 1, True)
            sb = play(t1, t2, 1, True)
            outcome = {"result": "tie"}
            if sa != sb and rng.random() < 0.5:
                outcome = {"result": "tie", "eliminator": t2 if sa > sb else t1}
        elif a > b:
            outcome = {"winner": t1, "by": {"runs": a - b}}
        else:
            outcome = {"winner": t2, "by": {"wickets": rng.randint(1, 10)}}
        if "winner" in outcome:
            if rng.random() < 0.05:
                outcome["method"] = "D/L"
            if rng.random() < 0.05:
                del outcome["by"]
    info["outcome"] = outcome
    if "winner" in outcome and rng.random() > 0.15:
        pool = _players(outcome["winner"])
        info["player_of_match"] = [rng.choice(pool)]
    m = {"meta": {"data_version": "1.0.0", "created": date, "revision": 1},
         "info": info}
    if innings:
        m["innings"] = innings
    winner = outcome.get("winner", outcome.get("result", ""))
    truth = [str(match_id), date, t1, t2, str(totals[t1]), str(totals[t2]),
             str(balls), winner]
    return m, truth


def write_corpus(seed, n, out_dir, first_id, first_date, days,
                 zip_path=None):
    """Write n matches as <id>.json under out_dir (and optionally into
    one zip with a README entry, as Cricsheet ships them).

    Ids are distinct and shuffled against dates, dates spread over
    `days` days from `first_date` with repeats, so the (date, match_id)
    publication order differs from both id order and file order.
    Returns the truth rows in file-name order.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    ids = rng.sample(range(first_id, first_id + 4 * n), n)
    start = datetime.date.fromisoformat(first_date)
    rows, blobs = [], []
    for mid in sorted(ids):
        date = (start + datetime.timedelta(days=rng.randrange(days))).isoformat()
        m, truth = make_match(rng, mid, date)
        blob = json.dumps(m).encode()
        name = "%d.json" % mid
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(blob)
        blobs.append((name, blob))
        rows.append(truth)
    if zip_path:
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(zipfile.ZipInfo("README.txt", ZIP_TIME),
                       b"Synthetic Cricsheet-shaped matches.\n")
            for name, blob in blobs:
                info = zipfile.ZipInfo(name, ZIP_TIME)
                info.compress_type = zipfile.ZIP_DEFLATED
                z.writestr(info, blob)
    return rows


def write_truth(rows, path):
    with open(path, "w") as f:
        f.write("\t".join(TRUTH_HEADER) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def read_truth(path):
    with open(path) as f:
        lines = f.read().splitlines()
    return [dict(zip(TRUTH_HEADER, line.split("\t"))) for line in lines[1:]]


def write_documents(rng, path, first_id, n, corpus):
    """n JSON-lines documents; about one in eight is a near-duplicate
    (one word changed) of an earlier document, in this batch or a
    previous one (`corpus` carries texts across batches)."""
    with open(path, "w") as f:
        for i in range(n):
            if corpus and rng.random() < 0.125:
                words = rng.choice(corpus).split()
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            else:
                words = [rng.choice(WORDS) for _ in range(rng.randint(20, 70))]
            text = " ".join(words)
            corpus.append(text)
            f.write(json.dumps({"doc_id": first_id + i, "text": text}) + "\n")


def write_embeddings(rng, path, first_id, n, corpus, dim=64):
    """n JSON-lines unit vectors; about one in eight is a small
    perturbation of an earlier vector."""
    with open(path, "w") as f:
        for i in range(n):
            if corpus and rng.random() < 0.125:
                v = [x + rng.gauss(0, 0.02) for x in rng.choice(corpus)]
            else:
                v = [rng.gauss(0, 1) for _ in range(dim)]
            norm = math.sqrt(sum(x * x for x in v))
            v = [round(x / norm, 6) for x in v]
            corpus.append(v)
            f.write(json.dumps({"vec_id": first_id + i, "embedding": v}) + "\n")
