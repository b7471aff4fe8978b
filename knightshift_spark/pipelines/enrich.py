"""Enrichment pipelines: user profiles + opening names.

Reference behavior (SURVEY.md §3.4):

- ``backfill_user_profiles`` collects distinct white∪black usernames from
  unprofiled games (``backfill_user_profiles.py:135-141``), fetches each
  profile JSON from the Lichess REST API, flattens the nested payload
  (``:178-214``), inserts rows *only for new users*
  (``:169-175,216-218``), then flags games whose players were processed
  (``:223-235``). ``enrich_users`` joins the bodies to the wanted keys;
  ``apply_profiles`` does the insert and the flagging.
- ``backfill_opening_names`` finds games with missing ECO/opening/elo
  (``backfill_opening_names.py:90-97``), fetches the PGN export, extracts
  4 tags (``:118-128``), and updates the rows.

The REST source is injectable: production wraps a rate-limited
``mapInPandas`` fetcher; tests join against a fixture DataFrame of JSON
bodies keyed by username / game id. Everything else is native
expressions — one explode + distinct, one anti-join, two broadcast
flag joins, one merge.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knightshift_spark.functions.cleaning import (
    bool_from_str,
    eco_nullif_unknown,
    is_missing,
    null_sentinel_to_null,
    safe_int,
)
from knightshift_spark.operators.merge import insert_if_absent
from knightshift_spark.schemas import USER_PROFILE_JSON


def distinct_players(games: DataFrame, force: bool = False) -> DataFrame:
    """White ∪ black usernames of games needing profiles, non-empty,
    distinct (OP-28/OP-29, ``backfill_user_profiles.py:135-141``).

    ``explode(array(...))`` unpivots both columns in one pass; distinct is
    the only shuffle.
    """
    scope = games if force else games.filter(
        ~F.coalesce(F.col("ind_profile_updated"), F.lit(False))
    )
    return (
        scope.select(
            F.explode(F.array("id_user_white", "id_user_black")).alias("id_user")
        )
        .filter(~is_missing(F.col("id_user")))
        .distinct()
    )


def flatten_profiles(profiles_json: DataFrame, keep_fetch_key: bool = False) -> DataFrame:
    """``(id_user, body)`` JSON → ``lichess_users`` rows
    (OP-20/OP-21, ``backfill_user_profiles.py:156-214``).

    ``from_json`` + struct field access — the whole flatten is one
    projection. Sentinel strings → NULL; bools coerce from "1"/"true".
    Records without an ``id`` are skipped (``:240-241``).

    ``keep_fetch_key=True`` carries the *requested* key through as
    ``key_fetch`` — the output ``id_user`` is the payload's own ``id``
    (lowercase Lichess id), which can differ in case from the header
    username used to fetch; flagging processed games must use the fetch
    key (reference ``_mark_profile_done`` flags by the fetched username).
    """
    p = profiles_json.select(
        F.col("id_user").alias("key_fetch"),
        F.from_json("body", USER_PROFILE_JSON).alias("j"),
    ).filter(F.col("j.id").isNotNull())
    clean = null_sentinel_to_null
    fetch_key_cols = [F.col("key_fetch")] if keep_fetch_key else []
    return p.select(
        *fetch_key_cols,
        F.col("j.id").alias("id_user"),
        clean(F.col("j.username")).alias("val_username"),
        clean(F.col("j.profile.title")).alias("val_title"),
        clean(F.col("j.profile.url")).alias("val_url"),
        clean(F.col("j.profile.realName")).alias("val_real_name"),
        clean(F.col("j.profile.location")).alias("val_location"),
        clean(F.col("j.profile.bio")).alias("val_bio"),
        safe_int(F.col("j.profile.fideRating")).alias("val_rating_fide"),
        safe_int(F.col("j.profile.uscfRating")).alias("val_rating_uscf"),
        F.col("j.perfs.bullet.rating").alias("val_rating_bullet"),
        F.col("j.perfs.blitz.rating").alias("val_rating_blitz"),
        F.col("j.perfs.classical.rating").alias("val_rating_classical"),
        F.col("j.perfs.rapid.rating").alias("val_rating_rapid"),
        F.col("j.perfs.chess960.rating").alias("val_rating_chess960"),
        F.col("j.perfs.ultraBullet.rating").alias("val_rating_ultra_bullet"),
        clean(F.col("j.profile.flag")).alias("val_country_code"),
        F.col("j.createdAt").alias("tm_created"),
        F.col("j.seenAt").alias("tm_seen"),
        F.col("j.playTime.total").alias("n_playtime_total"),
        F.col("j.playTime.tv").alias("n_playtime_tv"),
        F.col("j.count.all").alias("n_games_all"),
        F.col("j.count.rated").alias("n_games_rated"),
        F.col("j.count.win").alias("n_games_win"),
        F.col("j.count.loss").alias("n_games_loss"),
        F.col("j.count.draw").alias("n_games_draw"),
        bool_from_str(F.col("j.patron")).alias("ind_patron"),
        bool_from_str(F.col("j.streaming")).alias("ind_streaming"),
    )


class EnrichUsersResult(NamedTuple):
    users: DataFrame  # lichess_users after insert-if-absent
    games: DataFrame  # games with ind_profile_updated flags set
    added: DataFrame  # the users rows insert-if-absent added


def enrich_users(
    games: DataFrame,
    existing_users: DataFrame,
    profile_bodies: DataFrame,
    force: bool = False,
) -> EnrichUsersResult:
    """Full user-profile backfill against an injectable profile source.

    ``profile_bodies``: DataFrame(id_user string, body string-JSON) — the
    REST lookup as data (fixture in tests, ``mapInPandas`` fetch in prod).
    Only bodies for the players of ``games`` in scope count; a caller
    whose bodies were fetched for exactly those keys can flatten them
    and call ``apply_profiles`` directly.
    """
    wanted = distinct_players(games, force)
    fetched = wanted.join(profile_bodies, "id_user", "inner")
    return apply_profiles(games, existing_users, flatten_profiles(fetched, keep_fetch_key=True))


def apply_profiles(
    games: DataFrame, existing_users: DataFrame, rows_fk: DataFrame
) -> EnrichUsersResult:
    """Insert the flattened profiles ``rows_fk`` (``flatten_profiles``
    with ``keep_fetch_key=True``) into the users table if absent, and
    flag the games either of whose players was processed.

    Flagging is two broadcast left joins, white then black, against the
    distinct fetch keys, so nothing on the games side is shuffled. The
    key set is one run's fetched profiles — at most two per game of the
    run, and the small side by definition (``sources/rest.py``) — and
    distinct, so each game row matches at most once per side.
    """
    added = insert_if_absent(existing_users, rows_fk.drop("key_fetch"), ["id_user"])
    users = existing_users.unionByName(added)

    # flag by the REQUESTED username, not the payload's lowercase id:
    # games store the header username, and a case-differing id would
    # never match → endless re-fetch (reference _mark_profile_done
    # builds the processed set from the fetched username)
    processed = rows_fk.select("key_fetch").distinct()
    white = F.broadcast(processed.select(F.col("key_fetch").alias("__white")))
    black = F.broadcast(processed.select(F.col("key_fetch").alias("__black")))
    games_flagged = (
        games.join(white, F.col("id_user_white") == F.col("__white"), "left")
        .join(black, F.col("id_user_black") == F.col("__black"), "left")
        .withColumn(
            "ind_profile_updated",
            F.when(
                F.col("__white").isNotNull() | F.col("__black").isNotNull(), F.lit(True)
            ).otherwise(F.col("ind_profile_updated")),
        )
        .drop("__white", "__black")
    )
    return EnrichUsersResult(users=users, games=games_flagged, added=added)


def needs_opening_backfill() -> F.Column:
    """Missing-enrichment predicate (OP-27,
    ``backfill_opening_names.py:90-97``): eco/opening NULL or ``"?"``,
    or either elo NULL."""
    eco, op = F.col("val_opening_eco_code"), F.col("val_opening_name")
    return (
        eco.isNull()
        | (F.trim(eco) == "?")
        | op.isNull()
        | (F.trim(op) == "?")
        | F.col("val_elo_white").isNull()
        | F.col("val_elo_black").isNull()
    )


def extract_opening_tags(bodies: DataFrame) -> DataFrame:
    """``(id_game, body)`` PGN export text → 4 extracted tags
    (OP-22, ``backfill_opening_names.py:118-128``)."""
    def tag(name: str):
        return F.nullif(
            F.regexp_extract("body", rf'\[{name} "([^"]*)"\]', 1), F.lit("")
        )

    return bodies.select(
        "id_game",
        eco_nullif_unknown(tag("ECO")).alias("eco"),
        tag("Opening").alias("opening"),
        safe_int(tag("WhiteElo")).alias("elo_white"),
        safe_int(tag("BlackElo")).alias("elo_black"),
    )


def backfill_openings(
    games: DataFrame, export_bodies: DataFrame, broadcast_tags: bool = True
) -> DataFrame:
    """Update games matching the predicate with fetched tag values
    (merge semantics of ``backfill_opening_names.py:137-156``): fetched
    non-NULL values overwrite, others keep the current value.

    The tags side BROADCASTS by default: export bodies arrive one paced
    fetch-batch at a time (the OP-34 governor bounds the batch), so the
    parsed-tag relation is small next to the games table — and its
    RDD/fetch lineage has no stats, so Catalyst would otherwise pick a
    sort-merge join and shuffle the games side for nothing. For a bulk
    historical backfill where the export dump is NOT batch-bounded, pass
    ``broadcast_tags=False`` to restore Catalyst's size-based choice
    (a forced broadcast of a multi-GB relation kills the driver).
    """
    tags = extract_opening_tags(export_bodies)
    if broadcast_tags:
        tags = F.broadcast(tags)
    need = games.filter(needs_opening_backfill())
    keep = games.filter(~needs_opening_backfill())
    updated = (
        need.join(tags, "id_game", "left")
        .withColumn("val_opening_eco_code", F.coalesce("eco", "val_opening_eco_code"))
        .withColumn("val_opening_name", F.coalesce("opening", "val_opening_name"))
        .withColumn("val_elo_white", F.coalesce("elo_white", "val_elo_white"))
        .withColumn("val_elo_black", F.coalesce("elo_black", "val_elo_black"))
        .drop("eco", "opening", "elo_white", "elo_black")
    )
    return keep.unionByName(updated)
