"""Seeded PGN spool generator, deterministic profile stub and the
correctness oracle for the PGN workloads.

The generator writes only PGN text files; the program under test sees
nothing else. Every batch is a pure function of ``(seed, batch index)``:
about 10% of a batch re-sends games already seen (upserts that replace
a stored row), about 5% are dirty rows the cleaning stage deletes, and
players come from a fixed pool of which about 20% have no profile, so
enrichment asks for them again on every run.

``Oracle`` replays the same batches in plain Python and predicts what
``run_pipeline`` must report for each op and which game ids and users
the warehouse must hold afterwards.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

RESULTS = ("1-0", "0-1", "1/2-1/2")
TERMINATIONS = ("Normal", "Time forfeit", "resigned", "UNTERMINATED", "Abandoned")
TITLES = ("", "", "", "", "GM", "im", "unranked", " fm ")
OPENINGS = (
    ("B01", "Scandinavian Defense"),
    ("C20", "King's Pawn Game"),
    ("C50", "Italian Game"),
    ("D02", "Queen's Pawn Game"),
    ("B20", "Sicilian Defense"),
    ("A04", "Zukertort Opening"),
    ("?", "?"),
)
MOVES = ("e4", "e5", "Nf3", "Nc6", "Bb5", "a6", "d4", "d5", "c4", "e6", "Nc3",
         "Nf6", "Bg5", "Be7", "O-O", "Qxd5", "exd5", "h3", "Rfe1", "Kh8")
ID_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

# The repo holds no measured traffic for these shares; they are assumed.
RESEEN_FRAC = 0.10
DIRTY_FRAC = 0.05
PROFILE_MISS_EVERY = 5  # one player in five has no profile (~20% misses)
# The reference enriches users in batches of 3,000 (BASELINE.md:22), so
# one enrichment batch covers the whole player pool.
N_PLAYERS = 3000


def has_profile(name: str) -> bool:
    """Deterministic per-name profile availability."""
    return int(hashlib.md5(name.encode()).hexdigest()[:8], 16) % PROFILE_MISS_EVERY != 0


def fetch_profile(name: str) -> str | None:
    """Profile transport stub: a JSON body for most players, None (a
    fetch miss) for the rest. Pure and instant; it never sleeps. Module
    level so Spark's Python workers import it by reference."""
    if not has_profile(name):
        return None
    h = int(hashlib.md5(name.encode()).hexdigest()[:12], 16)
    return json.dumps(
        {
            "id": name,
            "username": name,
            "patron": "true" if h % 7 == 0 else "false",
            "createdAt": 1_600_000_000_000 + h % 10_000_000,
            "seenAt": 1_700_000_000_000 + h % 10_000_000,
            "profile": {"realName": f"Player {h % 9973}", "flag": "NO",
                        "fideRating": str(1400 + h % 1200)},
            "perfs": {"blitz": {"rating": 1200 + h % 1500},
                      "bullet": {"rating": 1100 + h % 1600}},
            "count": {"all": h % 5000, "rated": h % 4000, "win": h % 2000,
                      "loss": h % 1900, "draw": h % 300},
        }
    )


@dataclass
class Game:
    id_game: str
    white: str
    black: str
    dirty: bool
    text: str


@dataclass
class PgnGenerator:
    """Batches of games for one seed; each ``batch()`` call returns the
    next one (re-seen ids are drawn from earlier batches)."""

    seed: int
    games_per_batch: int
    n_players: int = N_PLAYERS
    _rng: random.Random = field(init=False)
    _ids: set = field(init=False, default_factory=set)
    _clean_ids: list = field(init=False, default_factory=list)
    players: list = field(init=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self.players = [f"s{self.seed % 10_000}p{i:05d}" for i in range(self.n_players)]

    def _new_id(self) -> str:
        while True:
            gid = "".join(self._rng.choice(ID_ALPHABET) for _ in range(8))
            if gid not in self._ids:
                self._ids.add(gid)
                return gid

    def _game(self, gid: str, dirty: bool) -> Game:
        r = self._rng
        white, black = r.sample(self.players, 2)
        result = r.choice(RESULTS)
        eco, opening = r.choice(OPENINGS)
        day = f"2025.{r.randint(1, 12):02d}.{r.randint(1, 28):02d}"
        headers = {
            "Event": "Rated Blitz game",
            "Site": f"https://lichess.org/{gid}",
            "Date": day,
            "White": white,
            "Black": black,
            "Result": result,
            "UTCDate": day,
            "UTCTime": f"{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}",
            "WhiteElo": str(r.randint(800, 2900)) if r.random() > 0.02 else "?",
            "BlackElo": str(r.randint(800, 2900)),
            "Variant": "Standard",
            "TimeControl": r.choice(("180+0", "300+3", "60+0", "600+5")),
            "ECO": eco,
            "Opening": opening,
            "Termination": r.choice(TERMINATIONS),
        }
        title_w, title_b = r.choice(TITLES), r.choice(TITLES)
        if title_w:
            headers["WhiteTitle"] = title_w
        if title_b:
            headers["BlackTitle"] = title_b
        if dirty:
            if r.random() < 0.5:
                headers["Result"] = result = "*"
            else:
                headers["White"] = white = ""
        n_moves = r.randint(10, 40)
        moves = " ".join(
            f"{k + 1}. {r.choice(MOVES)} {r.choice(MOVES)}" for k in range(n_moves)
        )
        lines = [f'[{k} "{v}"]' for k, v in headers.items()]
        lines.append(f"{moves} {result}")
        return Game(gid, white, black, dirty, "\n".join(lines) + "\n")

    def batch(self) -> list[Game]:
        """The next batch: re-seen clean ids first drawn from earlier
        batches, then fresh ids of which a share is dirty."""
        r = self._rng
        n = self.games_per_batch
        n_reseen = min(round(n * RESEEN_FRAC), len(self._clean_ids))
        n_dirty = round(n * DIRTY_FRAC)
        reseen = r.sample(self._clean_ids, n_reseen) if n_reseen else []
        games = [self._game(gid, dirty=False) for gid in reseen]
        fresh = [self._new_id() for _ in range(n - n_reseen)]
        for k, gid in enumerate(fresh):
            games.append(self._game(gid, dirty=k < n_dirty))
        r.shuffle(games)
        self._clean_ids.extend(fresh[n_dirty:])
        return games


def write_pgn(path: str, games: list[Game]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(g.text for g in games))


def write_batch_dir(dir_path: str, games: list[Game], n_files: int) -> None:
    """Spread one batch over ``n_files`` spool files in a fresh dir."""
    os.makedirs(dir_path)
    per = -(-len(games) // n_files)
    for k in range(n_files):
        chunk = games[k * per:(k + 1) * per]
        if chunk:
            write_pgn(os.path.join(dir_path, f"part-{k:03d}.pgn"), chunk)


@dataclass(frozen=True)
class ExpectedReport:
    ingested: int
    valid: int
    deleted: int
    users_added: int
    keys_requested: int
    keys_hit: int


class Oracle:
    """Plain-Python model of ``run_pipeline`` over the generated batches:
    upsert by id, delete dirty rows, then fetch profiles for the players
    of games not yet flagged and flag every game one of whose players
    was fetched."""

    def __init__(self) -> None:
        self.games: dict[str, list] = {}  # id -> [white, black, flagged]
        self.users: set[str] = set()

    def apply(self, batch: list[Game]) -> ExpectedReport:
        deleted = 0
        for g in batch:
            if g.dirty:
                deleted += 1
                self.games.pop(g.id_game, None)
            else:
                self.games[g.id_game] = [g.white, g.black, False]
        wanted = {
            p for w, b, flagged in self.games.values() if not flagged for p in (w, b) if p
        }
        hits = {p for p in wanted if has_profile(p)}
        users_added = len(hits - self.users)
        self.users |= hits
        for rec in self.games.values():
            if rec[0] in hits or rec[1] in hits:
                rec[2] = True
        return ExpectedReport(
            ingested=len({g.id_game for g in batch}),
            valid=len(self.games),
            deleted=deleted,
            users_added=users_added,
            keys_requested=len(wanted),
            keys_hit=len(hits),
        )
