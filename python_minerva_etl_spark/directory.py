"""Directory — entities, entity types, distinguished names.

Reference semantics (minerva/directory/distinguishedname.py,
entity.py, entityref.py [U]): a distinguished name is an ordered list
of ``type=value`` components (``network=g1,cell=301``); the entity
type is the last component's type; entities resolve dn -> entity_id
with create-if-missing against the ``directory`` schema.

Spark mapping: DNs are plain string columns; parse/build are Catalyst
string functions; the entity registry is a dimension DataFrame and
resolution is a broadcast join; *new* ids are content-derived
(md5(dn)) so creation is deterministic and cluster-parallel — no
sequence allocator round-trip per row (the reference's main ingest
bottleneck).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- python side


def split_parts(dn: str) -> list[tuple[str, str]]:
    """'a=1,b=2' -> [('a','1'), ('b','2')] (driver-side planning use)."""
    out = []
    for part in dn.split(","):
        k, _, v = part.partition("=")
        out.append((k, v))
    return out


def entity_type_of(dn: str) -> str:
    return split_parts(dn)[-1][0]


def build_dn(*parts: tuple[str, str]) -> str:
    return ",".join(f"{k}={v}" for k, v in parts)


# ---------------------------------------------------------------- column side


def dn_component(dn: Column | str, type_name: str) -> Column:
    """Value of the ``type_name=`` component (empty string if absent)."""
    c = F.col(dn) if isinstance(dn, str) else dn
    return F.regexp_extract(c, rf"(?:^|,){type_name}=([^,]*)", 1)


def dn_entity_type(dn: Column | str) -> Column:
    """Type of the last component (the entity's own type)."""
    c = F.col(dn) if isinstance(dn, str) else dn
    return F.regexp_extract(c, r"([^,=]+)=[^,=]*$", 1)


def entity_key(dn: Column | str) -> Column:
    """Deterministic content-derived entity key (OP-DIR-ENTITY)."""
    c = F.col(dn) if isinstance(dn, str) else dn
    return F.md5(c.cast("binary"))


def build_registry(dns: DataFrame, dn_col: str = "dn") -> DataFrame:
    """Entity registry dimension from a DN set: key, type, per-component
    aliases (array) and tags (map) — the directory schema's
    entity/alias/tag tables as one dimension DataFrame (§1.1).

    Aliases: every component value plus the full dn (the reference's
    name + alias lookup).  Tags: component type -> value map
    (``element_at(tags, 'network')``)."""
    distinct_dns = dns.select(F.col(dn_col).alias("dn")).distinct()
    c = F.col("dn")
    parts = F.split(c, ",")

    def _kv(p):
        # split on the FIRST '=' only (limit=2) — component values may
        # themselves contain '=' (matches split_parts/dn_component)
        kv = F.split(p, "=", 2)
        return F.struct(F.get(kv, 0).alias("key"),
                        F.coalesce(F.get(kv, 1), F.lit("")).alias("value"))

    entries = F.transform(parts, _kv)
    # tags keep the LAST occurrence per component type — repeated types
    # (hierarchical DNs) must not crash map_from_entries
    deduped = F.filter(entries, lambda e, i: ~F.exists(
        F.slice(entries, i + F.lit(2), F.size(entries)),
        lambda later: later["key"] == e["key"]))
    values = F.transform(entries, lambda e: e["value"])
    return distinct_dns.select(
        F.col("dn"),
        entity_key("dn").alias("entity_key"),
        dn_entity_type("dn").alias("entity_type"),
        F.array_union(values, F.array(F.col("dn"))).alias("aliases"),
        F.map_from_entries(deduped).alias("tags"),
    )


def lookup_by_alias(registry: DataFrame, alias: str) -> DataFrame:
    """Entities matching an alias (name, component value, or full dn)."""
    return registry.filter(F.array_contains("aliases", alias))


def resolve(df: DataFrame, registry: DataFrame, dn_col: str = "dn",
            registry_dn: str = "dn") -> DataFrame:
    """Resolve against an entity registry dim with create-if-missing:
    broadcast-join the registry; rows with no match get the
    content-derived key (which IS the id scheme of the registry, so
    new and existing rows agree)."""
    reg = registry.select(F.col(registry_dn).alias("__dn"),
                          F.col("entity_key").alias("__existing"))
    joined = df.join(F.broadcast(reg), df[dn_col] == F.col("__dn"), "left")
    return (joined.withColumn(
        "entity_key", F.coalesce(F.col("__existing"), entity_key(dn_col)))
        .drop("__dn", "__existing"))


def fuzzy_match(dirty: DataFrame, registry: DataFrame,
                dirty_id: str, dirty_col: str,
                reg_id: str, reg_col: str,
                max_dist: int = 2) -> DataFrame:
    """Fuzzy alias resolution: map each dirty name to the registry
    entry with the smallest Levenshtein distance <= ``max_dist``
    (ties broken by registry id; unmatched rows are absent).

    The reference resolves entities by exact dn/alias lookup
    (minerva/directory/entityref.py [U]); vendor exports misspell —
    this is the recovery path.

    Scale shape: the registry is a directory-class dimension →
    broadcast.  Candidate generation is an EQUI-join on name length
    (registry rows replicated over lengths l-k..l+k — sound: edit
    distance <= k implies a length difference <= k), so the plan is a
    BroadcastHashJoin, never a nested loop over the whole registry;
    the exact distance runs only on length-compatible candidates, and
    the argmin is one map-side-combined struct-min aggregation.
    Tighter blocking (entity_type, PassJoin segments) composes by
    adding columns to the join key.
    """
    reg = registry.select(
        F.col(reg_id).alias("match_id"),
        F.col(reg_col).alias("match_name"),
        F.explode(F.sequence(
            F.length(reg_col) - max_dist,
            F.length(reg_col) + max_dist)).alias("__bl"))
    d = dirty.select(
        F.col(dirty_id).alias("src_id"),
        F.col(dirty_col).alias("src_name"),
        F.length(dirty_col).alias("__bl"))
    cand = (d.join(F.broadcast(reg), "__bl")
            .withColumn("dist", F.levenshtein("src_name", "match_name"))
            .filter(F.col("dist") <= max_dist))
    best = (cand.groupBy("src_id")
            .agg(F.max(F.struct(
                (-F.col("dist")).alias("nd"),
                (-F.col("match_id")).alias("nm"),
                F.col("src_name"), F.col("match_name"))).alias("m")))
    return best.select(
        "src_id", F.col("m.src_name").alias("src_name"),
        (-F.col("m.nm")).alias("match_id"),
        F.col("m.match_name").alias("match_name"),
        (-F.col("m.nd")).alias("dist"))
