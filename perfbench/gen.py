"""Seeded inputs for the three workloads, made in pure Python/NumPy.

Every generator is a function of its seed alone, so the same seed gives
byte-identical files and schedules. Nothing here imports Spark: the
generators run before the session exists and the self-checks run them
without a JVM.

- ``make_raw_zone`` writes an openfootball-shaped raw zone for the ETL
  and computes, without Spark, what the ETL must produce from it: the
  staged match count, the quarantine count and the season standings.
- ``clustered_vectors`` / ``query_batch`` / ``delete_batch`` feed the
  ANN serving loop.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------------
# Raw zone for etl_batch
# ---------------------------------------------------------------------------

# code -> league name. "br" has no files (a lookup row with no facts);
# "xx" files exist but have no lookup row, so the inner join drops them.
LEAGUES = (
    ("br", "Brasileirao"),
    ("de", "Bundesliga"),
    ("en", "English Premier League"),
    ("es", "La Liga"),
    ("fr", "Ligue 1"),
    ("it", "Serie A"),
    ("nl", "Eredivisie"),
    ("pt", "Primeira Liga"),
)
UNKNOWN_CODE = "xx"
FILE_CODES = ("de", "en", "es", "fr", "it", "nl", "pt", UNKNOWN_CODE)
FIRST_SEASON = 2008
N_SEASONS = 6
N_TEAMS = 18

_CITIES = (
    "Aston", "Bayside", "Carrow", "Dunmore", "Elmwood", "Fairport", "Glenham",
    "Harbor", "Ironvale", "Juniper", "Kingsbay", "Lakeside", "Millbrook",
    "Northgate", "Oakridge", "Portwell", "Queensford", "Riverton", "Stonebridge",
    "Thornbury", "Upton", "Valemont", "Westfield", "Yarrow",
)
_SUFFIXES = ("United", "City", "Athletic", "Rovers", "Town", "Wanderers")


@dataclass
class RawZone:
    """What the ETL must produce from the generated raw zone."""

    path: str
    leagues: list[tuple[str, str]]
    aliases: list[tuple[str, str]]
    n_files: int
    raw_bytes: int
    generated_matches: int  # match entries in every well-formed document
    staged_rows: int  # rows matches_normalized must hold
    quarantined: int  # documents the quarantine sink must hold
    standings: list[tuple] = field(default_factory=list)


def _teams(rng: random.Random, code: str) -> list[str]:
    names = [f"{c} {s}" for c in _CITIES for s in _SUFFIXES]
    rng.shuffle(names)
    return sorted(f"{n} {code.upper()}" for n in names[:N_TEAMS])


def _fixtures(rng: random.Random, teams: list[str], season: int) -> list[dict]:
    """Double round robin with seeded scores; about 1 in 60 unplayed."""
    n = len(teams)
    order = list(teams)
    rounds = []
    for r in range(n - 1):
        pairs = [(order[i], order[n - 1 - i]) for i in range(n // 2)]
        rounds.append(pairs)
        order = [order[0], order[-1]] + order[1:-1]
    matches = []
    legs = rounds + [[(b, a) for a, b in pairs] for pairs in rounds]
    for r, pairs in enumerate(legs):
        day = 1 + (r * 7) % 28
        month = 8 + (r * 7) // 28
        year = season + (month - 1) // 12
        date = f"{year:04d}-{(month - 1) % 12 + 1:02d}-{day:02d}"
        for home, away in pairs:
            m = {"round": f"Matchday {r + 1}", "date": date, "team1": home, "team2": away}
            if rng.random() < 0.5:
                m["time"] = rng.choice(("15:00", "17:30", "20:45"))
            if rng.random() >= 1 / 60:
                ft = [rng.randint(0, 4), rng.randint(0, 3)]
                score = {"ft": ft}
                if rng.random() < 0.5:
                    score["ht"] = [rng.randint(0, ft[0]), rng.randint(0, ft[1])]
                m["score"] = score
            matches.append(m)
    return matches


def _as_rounds(matches: list[dict]) -> list[dict]:
    """The nested-rounds document shape: round name on the round."""
    out: dict[str, list] = {}
    for m in matches:
        inner = {k: v for k, v in m.items() if k != "round"}
        out.setdefault(m["round"], []).append(inner)
    return [{"name": k, "matches": v} for k, v in out.items()]


def _doc_matches(doc: dict) -> list[dict]:
    if doc.get("matches") is not None:
        return list(doc["matches"])
    return [
        dict(m, round=m.get("round") or r["name"])
        for r in doc.get("rounds") or []
        for m in r["matches"]
    ]


def _version(file_name: str) -> int:
    stem = file_name[: -len(".json")]
    tail = stem.rsplit(".", 1)[-1]
    return int(tail[1:]) if tail.startswith("v") and tail[1:].isdigit() else 0


def make_raw_zone(root: str, seed: int, n_seasons: int = N_SEASONS) -> RawZone:
    """Write ``<root>/<season-dir>/<code>.1[.vK].json`` and return the truth.

    Injected cases: superseded versions (one ``v10``-over-``v2`` pair,
    and a ``v3`` that is malformed so ``v2`` still wins), malformed and
    missing-field documents, an unknown league code, team-alias
    spellings, duplicate match entries and unplayed matches.
    """
    rng = random.Random(seed)
    league_name = dict(LEAGUES)
    teams = {code: _teams(rng, code) for code in FILE_CODES}
    aliases: dict[str, str] = {}
    for code in FILE_CODES:
        for t in rng.sample(teams[code], 3):
            city, suffix, _ = t.split(" ")
            aliases[f"{city} {suffix} FC"] = t
            aliases[f"{city} {suffix[:3]}."] = t

    files: list[tuple[str, str, dict | None, str]] = []  # (dir, name, doc, text)

    def emit(season_dir: str, name: str, doc: dict | None, text: str | None = None):
        text = text if text is not None else json.dumps(doc, indent=1)
        files.append((season_dir, name, doc, text))

    alias_of = {}
    for raw, canon in sorted(aliases.items()):
        alias_of.setdefault(canon, []).append(raw)

    for s in range(n_seasons):
        season = FIRST_SEASON + s
        sdir = f"{season}-{(season + 1) % 100:02d}"
        for code in FILE_CODES:
            matches = _fixtures(rng, teams[code], season)
            for m in matches:
                for side in ("team1", "team2"):
                    if m[side] in alias_of and rng.random() < 0.3:
                        m[side] = rng.choice(alias_of[m[side]])
            if rng.random() < 0.2:  # exact duplicate entry, dedup keeps one
                matches.insert(rng.randrange(len(matches)), dict(matches[0]))
            doc = {"name": f"{league_name.get(code, 'Unknown')} {sdir}"}
            if rng.random() < 0.85:  # else the season falls back to the dir year
                doc["season"] = f"{season}/{(season + 1) % 100:02d}"
            if rng.random() < 0.5:
                doc["matches"] = matches
            else:
                doc["rounds"] = _as_rounds(matches)
            kind = rng.random()
            if kind < 0.18:
                # a stale version (some scores missing) superseded by the
                # current one: .1 by .1.v2, or .1.v2 by .1.v10 (natural sort)
                stale = _unscored(doc, 5)
                if kind < 0.12:
                    emit(sdir, f"{code}.1.json", stale)
                    emit(sdir, f"{code}.1.v2.json", doc)
                else:
                    emit(sdir, f"{code}.1.v2.json", stale)
                    emit(sdir, f"{code}.1.v10.json", doc)
            elif kind < 0.22:
                emit(sdir, f"{code}.1.v2.json", doc)
                text = json.dumps(doc, indent=1)
                emit(sdir, f"{code}.1.v3.json", None, text[: len(text) // 3])  # malformed
            else:
                emit(sdir, f"{code}.1.json", doc)
        # one missing-field document per season, alternating the missing part
        if s % 2 == 0:
            emit(sdir, "it.9.json", {"name": None, "season": "x", "matches": []})
        else:
            emit(sdir, "it.9.json", {"name": "Serie A extra", "season": "x"})

    total_bytes = 0
    for sdir, name, _, text in files:
        os.makedirs(os.path.join(root, sdir), exist_ok=True)
        with open(os.path.join(root, sdir, name), "w") as fh:
            fh.write(text)
        total_bytes += len(text.encode())

    truth = _expected(files, dict(LEAGUES), aliases)
    return RawZone(
        path=root,
        leagues=list(LEAGUES),
        aliases=sorted(aliases.items()),
        n_files=len(files),
        raw_bytes=total_bytes,
        **truth,
    )


def _unscored(doc: dict, n: int) -> dict:
    """A copy of ``doc`` whose first ``n`` matches have no score."""
    out = json.loads(json.dumps(doc))
    if out.get("matches") is not None:
        entries = out["matches"]
    else:
        entries = [m for r in out["rounds"] for m in r["matches"]]
    for m in entries[:n]:
        m.pop("score", None)
    return out


def _is_valid(doc: dict | None) -> bool:
    return (
        doc is not None
        and doc.get("name") is not None
        and (doc.get("matches") is not None or doc.get("rounds") is not None)
    )


def _expected(files, leagues: dict[str, str], aliases: dict[str, str]) -> dict:
    """The ETL's contract, computed without Spark: quarantine routing,
    natural-latest version per (league code, season dir), inner league
    join, alias standardization, per-file dedup, per-team standings with
    the champion tie-break (points, goal difference, goals for, name)."""
    quarantined = 0
    generated = 0
    latest: dict[tuple[str, str], tuple[int, str, str, dict]] = {}
    for sdir, name, doc, _ in files:
        if not _is_valid(doc):
            quarantined += 1
            continue
        generated += len(_doc_matches(doc))
        prefix = "".join(ch for ch in name.split(".")[0] if ch.isalpha())
        key = (prefix, sdir[:4])
        cand = (_version(name), name, sdir, doc)
        if key not in latest or cand[:2] > latest[key][:2]:
            latest[key] = cand
    rows = set()
    for (prefix, year), (_, name, sdir, doc) in latest.items():
        if prefix not in leagues:
            continue
        season = doc.get("season") or year
        for m in _doc_matches(doc):
            home = aliases.get(m["team1"], m["team1"])
            away = aliases.get(m["team2"], m["team2"])
            ft = (m.get("score") or {}).get("ft")
            rows.add(
                (f"{sdir}/{name}", leagues[prefix], season, m["round"], home, away,
                 m["date"], tuple(ft) if ft else None)
            )
    table: dict[tuple, list] = {}
    for _, league, season, _, home, away, _, ft in rows:
        for team, gf, ga in ((home, 0, 1), (away, 1, 0)):
            acc = table.setdefault((league, season, team), [None, 0, 0, 0, None, None, 0])
            if ft is None:
                continue
            g_for, g_against = ft[gf], ft[ga]
            pts = 3 if g_for > g_against else 1 if g_for == g_against else 0
            acc[0] = (acc[0] or 0) + pts
            acc[1] += pts == 3
            acc[2] += pts == 1
            acc[3] += pts == 0
            acc[4] = (acc[4] or 0) + g_for
            acc[5] = (acc[5] or 0) + g_against
            acc[6] += 1
    champions = {}
    for (league, season, team), a in table.items():
        rank = (-(a[0] or 0), -((a[4] or 0) - (a[5] or 0)), -(a[4] or 0), team)
        if (league, season) not in champions or rank < champions[(league, season)][0]:
            champions[(league, season)] = (rank, team)
    standings = sorted(
        (league, season, team, *a, champions[(league, season)][1] == team)
        for (league, season, team), a in table.items()
    )
    return {
        "generated_matches": generated,
        "staged_rows": len(rows),
        "quarantined": quarantined,
        "standings": standings,
    }


# ---------------------------------------------------------------------------
# ANN serving inputs for ann_serve
# ---------------------------------------------------------------------------

DIM = 64
N_CLUSTERS = 10


def _centers(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 7]).normal(size=(N_CLUSTERS, DIM))


def clustered_vectors(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit-norm float32 vectors around 10 seeded centers, with labels."""
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, N_CLUSTERS, n)
    x = _centers(seed)[labels] + 0.9 * rng.normal(size=(n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32), labels


def query_batch(seed: int, op: int, size: int = 10) -> list[tuple[int, list[float]]]:
    """The seeded query vectors of serving op ``op``, drawn like the corpus."""
    rng = np.random.default_rng([seed, op + 1, 1])  # op -1 is the warmup batch
    labels = rng.integers(0, N_CLUSTERS, size)
    x = _centers(seed)[labels] + 0.9 * rng.normal(size=(size, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return [(i, [float(v) for v in row.astype(np.float32)]) for i, row in enumerate(x)]


def delete_batch(seed: int, op: int, recent: list[int], n_corpus: int, size: int = 20) -> list[int]:
    """Seeded ids to delete at op ``op``: half from the ids the last search
    served (so the no-resurrection check has teeth), the rest uniform."""
    rng = np.random.default_rng([seed, op + 1, 2])
    served = sorted(set(recent))
    take = [served[i] for i in rng.permutation(len(served))[: size // 2]]
    ids = set(take)
    while len(ids) < size:
        ids.add(int(rng.integers(0, n_corpus)))
    return sorted(ids)
