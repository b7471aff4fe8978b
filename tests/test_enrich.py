"""Enrichment pipeline tests with fixture REST bodies (FIXTURES.md §4)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from knightshift_spark.pipelines.enrich import (
    backfill_openings,
    distinct_players,
    enrich_users,
    extract_opening_tags,
    flatten_profiles,
)

PROFILE = {
    "id": "user1",
    "username": "User1",
    "patron": "true",
    "streaming": "0",
    "createdAt": 1577836800000,
    "seenAt": 1746000000000,
    "profile": {
        "title": "FM",
        "url": "https://lichess.org/@/user1",
        "realName": "<null>",
        "location": "Paris",
        "bio": "",
        "fideRating": "2100",
        "uscfRating": None,
        "flag": "FR",
    },
    "perfs": {"bullet": {"rating": 2300}, "blitz": {"rating": 2250}},
    "playTime": {"total": 360000, "tv": 1200},
    "count": {"all": 5000, "rated": 4200, "win": 2600, "loss": 2000, "draw": 400},
}


def _games(spark):
    return spark.createDataFrame(
        [
            ("g1", "user1", "user2", False),
            ("g2", "user3", "", False),
            ("g3", "user1", "user3", True),  # already profiled → out of scope
        ],
        "id_game string, id_user_white string, id_user_black string, ind_profile_updated boolean",
    )


def test_distinct_players(spark):
    ids = sorted(r["id_user"] for r in distinct_players(_games(spark)).collect())
    assert ids == ["user1", "user2", "user3"]  # "" dropped, g3 excluded


def test_flatten_profiles(spark):
    bodies = spark.createDataFrame(
        [("user1", json.dumps(PROFILE)), ("user9", json.dumps({"noid": 1}))],
        "id_user string, body string",
    )
    rows = flatten_profiles(bodies).collect()
    assert len(rows) == 1  # record without "id" skipped
    r = rows[0]
    assert r["id_user"] == "user1"
    assert r["val_rating_fide"] == 2100
    assert r["val_real_name"] is None  # "<null>" sentinel
    assert r["val_bio"] is None  # "" sentinel
    assert r["val_rating_bullet"] == 2300
    assert r["val_rating_classical"] is None
    assert r["ind_patron"] is True
    assert r["ind_streaming"] is False
    assert r["tm_created"] == 1577836800000
    assert r["n_games_draw"] == 400


def test_enrich_users_flags_and_inserts(spark):
    from knightshift_spark.schemas import LICHESS_USERS

    games = _games(spark)
    existing = spark.createDataFrame([], LICHESS_USERS)
    bodies = spark.createDataFrame(
        [("user1", json.dumps(PROFILE))], "id_user string, body string"
    )
    res = enrich_users(games, existing, bodies)
    assert [r["id_user"] for r in res.users.collect()] == ["user1"]
    flags = {r["id_game"]: r["ind_profile_updated"] for r in res.games.collect()}
    # g1 has user1 as white → flagged; g2 untouched; g3 keeps its True
    assert flags == {"g1": True, "g2": False, "g3": True}


def test_backfill_openings(spark):
    games = spark.createDataFrame(
        [
            ("g1", "?", None, None, 1500),
            ("g2", "C20", "King's Pawn Game", 1700, 1600),
        ],
        "id_game string, val_opening_eco_code string, val_opening_name string, "
        "val_elo_white int, val_elo_black int",
    )
    body = '[ECO "B01"]\n[Opening "Scandinavian Defense"]\n[WhiteElo "1850"]\n[BlackElo ""]'
    bodies = spark.createDataFrame([("g1", body)], "id_game string, body string")
    tags = extract_opening_tags(bodies).collect()[0]
    assert (tags["eco"], tags["opening"], tags["elo_white"], tags["elo_black"]) == (
        "B01", "Scandinavian Defense", 1850, None,
    )
    out = {r["id_game"]: r for r in backfill_openings(games, bodies).collect()}
    assert out["g1"]["val_opening_eco_code"] == "B01"
    assert out["g1"]["val_elo_white"] == 1850
    assert out["g1"]["val_elo_black"] == 1500  # fetched NULL keeps current
    assert out["g2"]["val_opening_name"] == "King's Pawn Game"  # untouched


def test_enrich_users_flags_case_differing_username(spark):
    """Games store the header username ("CamelCase"); the payload id is
    lowercase. The processed set must come from the FETCH key or the game
    never gets flagged and is re-fetched every run."""
    from knightshift_spark.schemas import LICHESS_USERS

    games = spark.createDataFrame(
        [("g1", "CamelCase", "other", False)],
        "id_game string, id_user_white string, id_user_black string, "
        "ind_profile_updated boolean",
    )
    profile = dict(PROFILE, id="camelcase", username="CamelCase")
    bodies = spark.createDataFrame(
        [("CamelCase", json.dumps(profile))], "id_user string, body string"
    )
    existing = spark.createDataFrame([], LICHESS_USERS)
    res = enrich_users(games, existing, bodies)
    assert [r["id_user"] for r in res.users.collect()] == ["camelcase"]
    flags = {r["id_game"]: r["ind_profile_updated"] for r in res.games.collect()}
    assert flags == {"g1": True}


def test_enrich_users_flags_with_duplicate_and_unheld_keys(spark):
    """Two bodies for one key and a body for a key no game holds change
    neither the game rows nor their number: the flag joins read a
    distinct key set. A game whose black player alone was fetched is
    flagged too."""
    from knightshift_spark.schemas import LICHESS_USERS

    games = spark.createDataFrame(
        [
            ("g1", "user1", "user2", False),
            ("g2", "user3", "user1", False),  # black alone fetched
            ("g3", "user3", "user4", None),  # neither fetched: keeps NULL
            ("g4", "user1", "user1", True),
        ],
        "id_game string, id_user_white string, id_user_black string, "
        "ind_profile_updated boolean",
    )
    body = json.dumps(PROFILE)
    bodies = spark.createDataFrame(
        [("user1", body), ("user1", body), ("nobody", json.dumps(dict(PROFILE, id="nobody")))],
        "id_user string, body string",
    )
    existing = spark.createDataFrame([], LICHESS_USERS)
    res = enrich_users(games, existing, bodies)
    out = res.games.collect()
    assert len(out) == 4
    assert sorted(tuple(r)[:3] for r in out) == sorted(tuple(r)[:3] for r in games.collect())
    flags = {r["id_game"]: r["ind_profile_updated"] for r in out}
    assert flags == {"g1": True, "g2": True, "g3": None, "g4": True}
    assert [r["id_user"] for r in res.users.collect()] == ["user1"]
    assert res.added.count() == 1
