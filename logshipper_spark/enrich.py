"""Enrichment: small config dimensions compiled into the plan (the
reference's resolver layer).

The reference resolves hosts → services per event through a chain of
resolvers with a TTL cache (reference: internal/resolve/static.go,
chain.go:11-22, cache.go:26-78, applied at pipeline.go:178-192). Both
dimensions here (the host → service map and the (role, tool) roles
lookup) are a few config rows, so each is collected once on the driver
and compiled into an expression: no join, no shuffle of the fact side,
and no broadcast job per execution. The compiled plan IS the cache; a
stream compiles it once per query.

Wildcard patterns (``*.redis.svc``, reference static.go:27-33) are a
tiny priority-ordered list → compiled into a single first-match
``when()`` chain (avoids fan-out duplicate rows from multi-pattern
matches while preserving first-match-wins, reference chain.go:15-21).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _glob_to_like(pattern: str) -> str:
    """Translate a path.Match-style glob to a SQL LIKE pattern.
    Supports ``*`` and ``?`` (the classes used by the reference's
    configs); escapes LIKE metacharacters."""
    return (
        pattern.replace("\\", "\\\\")
        .replace("%", r"\%")
        .replace("_", r"\_")
        .replace("*", "%")
        .replace("?", "_")
    )


def resolve_expr(host: Column, lookup_rows: list[tuple[str, str, bool, int]]) -> Column:
    """First-match-wins resolver expression over a small pattern list
    (reference: static.go:37-51 — exact map first, then wildcards in
    order). Returns NULL when nothing matches."""
    lowered = F.lower(host)
    exact = [(p, s) for p, s, is_wild, _ in sorted(lookup_rows, key=lambda r: r[3]) if not is_wild]
    wilds = [(p, s) for p, s, is_wild, _ in sorted(lookup_rows, key=lambda r: r[3]) if is_wild]
    expr = None
    for pat, svc in exact:
        cond = lowered == pat.lower()
        expr = F.when(cond, F.lit(svc)) if expr is None else expr.when(cond, F.lit(svc))
    for pat, svc in wilds:
        cond = lowered.like(_glob_to_like(pat.lower()))
        expr = F.when(cond, F.lit(svc)) if expr is None else expr.when(cond, F.lit(svc))
    return expr if expr is not None else F.lit(None).cast("string")


_REPLICA_SUFFIX = r"[-_]\d+$"


def strip_replica_suffix(host: Column) -> Column:
    """Docker compose replica-suffix normalization (reference:
    internal/resolve/docker.go:27,40-41): ``web-3`` / ``web_12`` →
    ``web``; hosts without a trailing ``[-_]<digits>`` are unchanged."""
    return F.regexp_replace(host, _REPLICA_SUFFIX, "")


def _docker_stage(host: Column, rows: list[tuple[str, str, bool, int]]) -> Column:
    """Chain stage mirroring the Docker resolver's name fallback
    (docker.go:29-46) without a Docker API: a host in compose-replica
    shape (``name[-_]N``) resolves through the static map under its
    stripped name, else to the stripped name itself. NULL for hosts not
    in replica shape (the next chain stage decides)."""
    stripped = strip_replica_suffix(host)
    # cheap gate first: a replica-shaped host must end in a digit; the
    # ascii check short-circuits the regex scan for the common case
    last_digit = F.ascii(F.substring(host, -1, 1)).between(48, 57)
    return F.when(
        last_digit & host.rlike(_REPLICA_SUFFIX),
        F.coalesce(resolve_expr(stripped, rows), stripped),
    )


def resolve_services(
    df: DataFrame, hosts_df: DataFrame, docker_replicas: bool = False
) -> DataFrame:
    """Pipeline.resolve semantics (reference: pipeline.go:178-192):
    enrich dst_service when set; backfill empty src_service from the
    source name (resolved if possible, else the raw source name).

    ``hosts_df`` must be small (it is a config dimension); it is
    collected once on the driver and compiled into a first-match
    expression — the Spark analogue of shipping the resolver map.

    ``docker_replicas=True`` appends the Docker-resolver stage to the
    chain (reference config ``resolve.docker: true``): hosts the static
    map misses are retried with their replica suffix stripped
    (docker.go:29-46, J5).
    """
    rows = [
        (r["host_pattern"], r["service"], r["is_wildcard"], r["priority"])
        for r in hosts_df.collect()
    ]
    dst = F.col("dst_service")
    src = F.col("src_service")
    src_name = F.col("source_name")
    resolved_dst = resolve_expr(dst, rows)
    resolved_src = resolve_expr(src_name, rows)
    if docker_replicas:
        resolved_dst = F.coalesce(resolved_dst, _docker_stage(dst, rows))
        resolved_src = F.coalesce(resolved_src, _docker_stage(src_name, rows))
    out = df.withColumn(
        "dst_service", F.when(dst != "", F.coalesce(resolved_dst, dst)).otherwise(dst)
    )
    out = out.withColumn(
        "src_service", F.when(src == "", F.coalesce(resolved_src, src_name)).otherwise(src)
    )
    return out


_ROLE_VALUES = ("team", "cost_tier", "sink_hint")


def enrich_roles(df: DataFrame, lookup_df: DataFrame) -> DataFrame:
    """Enrichment keyed on (role, tool), the north-rule lookup, with
    the semantics of a left equi-join: every fact row is kept, and a
    miss (a NULL role or tool always misses) gives ``""`` in ``team``,
    ``cost_tier`` and ``sink_hint``, as does a NULL value.

    ``lookup_df`` is a config dimension: it is collected once on the
    driver and compiled into one map literal keyed on
    ``struct(role, tool)``. Lookup rows with a NULL key are skipped (they
    never matched the join); a duplicate key raises ``ValueError``
    here, since a join would have duplicated fact rows."""
    table: dict = {}
    for r in lookup_df.collect():
        key = (r["role"], r["tool"])
        if None in key:
            continue
        if key in table:
            raise ValueError(f"duplicate (role, tool) in the roles lookup: {key}")
        table[key] = F.struct(*[F.lit(r[c]).cast("string").alias(c) for c in _ROLE_VALUES])
    if not table:
        return df.withColumns({c: F.lit("") for c in _ROLE_VALUES})
    compiled = F.create_map(*[
        x
        for (role, tool), values in table.items()
        for x in (F.struct(F.lit(role).alias("role"), F.lit(tool).alias("tool")), values)
    ])
    hit = F.try_element_at(compiled, F.struct("role", "tool"))
    return df.withColumns({c: F.coalesce(hit[c], F.lit("")) for c in _ROLE_VALUES})
