"""Schemas (SURVEY.md §1).

RAW_TWEET: the reference's only input schema (RawTweet,
TweetGateCore/Serialization/RawTweet.cs:6-60) expressed as a Spark
StructType for ``from_json`` schema-on-read — unknown JSON fields drop,
missing fields become NULL, exactly the Newtonsoft semantics the
reference relies on (Program.SaveAggregates.cs:73).

FLAT_TWEET: the canonical internal schema — the reference's first
projection (Query.cs:32-41) flattened to columns.

FAMILY_SCHEMAS: the aggregate store's five family schemas, mirroring
AggregatePayloads.cs:5-58.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# retweeted_status is recursive in the reference (RawTweet.cs:19) but only
# depth 1 is ever read (Query.cs:37,178-181) — truncate to one level.
_EXTENDED_TWEET = StructType([StructField("full_text", StringType())])

_USER = StructType(
    [
        StructField("screen_name", StringType()),
        StructField("followers_count", LongType()),
    ]
)

_ENTITIES = StructType(
    [
        StructField(
            "hashtags",
            ArrayType(StructType([StructField("text", StringType())])),
        ),
        StructField(
            "user_mentions",
            ArrayType(StructType([StructField("screen_name", StringType())])),
        ),
    ]
)

_RETWEETED_STATUS = StructType(
    [
        StructField("id", LongType()),
        StructField("extended_tweet", _EXTENDED_TWEET),
        StructField("user", _USER),
    ]
)

RAW_TWEET = StructType(
    [
        StructField("id", LongType()),
        StructField("in_reply_to_status_id", LongType()),
        StructField("text", StringType()),
        StructField("extended_tweet", _EXTENDED_TWEET),
        StructField("entities", _ENTITIES),
        StructField("lang", StringType()),
        StructField("timestamp_ms", StringType()),
        StructField("retweeted_status", _RETWEETED_STATUS),
        StructField("user", _USER),
    ]
)

# Canonical flattened working schema (Query.cs:32-41).
FLAT_TWEET = StructType(
    [
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
        StructField("screen_name", StringType()),
        StructField("follower_count", LongType()),
        StructField("hashtags", ArrayType(StringType())),
        StructField("mentions", ArrayType(StringType())),
        StructField("original_tweet_id", LongType()),  # -1 sentinel (Query.cs:37)
    ]
)

# TweetDescription (AggregatePayloads.cs:5-13), one top_tweets element, in
# the field order the writers emit (plans.tweets._dedupe_and_shape).
_TOP_TWEET = StructType(
    [
        StructField("id", LongType()),
        StructField("follower_count", LongType()),
        StructField("text", StringType()),
        StructField("screen_name", StringType()),
        StructField("original_tweet_id", LongType()),
    ]
)

_WINDOW_COUNT = StructType(
    [
        StructField("window_time", TimestampType()),
        StructField("cnt", LongType()),
    ]
)


def _top_entity(entity_col: str) -> StructType:
    """A top-mentions or top-hashtags row (AggregatePayloads.cs)."""
    return StructType(
        [
            StructField("window_time", TimestampType()),
            StructField(entity_col, StringType()),
            StructField("tweet_count", LongType()),
            StructField("follower_count_sum", LongType()),
            StructField("top_tweets", ArrayType(_TOP_TWEET)),
        ]
    )


# The five aggregate families (AggregatePayloads.cs:51-58) exactly as the
# batch (plans.tweets.tweet_aggregates) and streaming
# (plans.tweets.families_from_stage1) writers produce them. The store
# reads every family with its schema from here, so a read infers nothing
# from file footers, and it refuses to write a frame that differs.
FAMILY_SCHEMAS = {
    "counts": _WINDOW_COUNT,
    "hopping_counts": _WINDOW_COUNT,
    "mentions": _top_entity("screen_name"),
    "hashtags": _top_entity("hashtag"),
    "retweets": StructType(
        [
            StructField("window_time", TimestampType()),
            StructField("id", LongType()),
            StructField("text", StringType()),
            StructField("tweet_count", LongType()),
            StructField("follower_count_sum", LongType()),
            StructField("top_users", ArrayType(StringType())),
        ]
    ),
}
