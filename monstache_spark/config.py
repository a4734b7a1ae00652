"""TOML config surface — the reference's declarative language, accepted
verbatim (key names per the `toml:` tags of configOptions,
monstache.go:318-426; [[relate]] monstache.go:206-217; [[mapping]]
monstache.go:219-223).

A monstache user's config file drives this engine unchanged for every
key with an in-engine meaning. Connector-level keys (mongo-url,
elasticsearch-urls, TLS, AWS, logging) are accepted and surfaced in
``EngineConfig.extras`` for the deployment layer; they do not alter the
query plan. Go-template expansion of the config file
(monstache.go:2106-2132) maps to ordinary environment-variable
substitution: ``${VAR}`` in string values.
"""

from __future__ import annotations

import os
import re
import tomllib
from dataclasses import dataclass, field

from monstache_spark.operators.relate import Relation
from monstache_spark.streaming.pipeline import PipelineConfig

# keys the engine interprets; everything else lands in extras
_ENGINE_KEYS = {
    "namespace-regex",
    "namespace-exclude-regex",
    "namespace-drop-regex",
    "namespace-drop-exclude-regex",
    "dropped-databases",
    "dropped-collections",
    "direct-read-namespaces",
    "direct-read-split-max",
    "direct-read-stateful",
    "direct-read-dynamic-include-regex",
    "direct-read-dynamic-exclude-regex",
    "resume-from-timestamp",
    "workers",
    "worker",
    "index-oplog-time",
    "oplog-ts-field-name",
    "oplog-date-field-name",
    "oplog-date-field-format",
    "time-machine-namespaces",
    "time-machine-index-prefix",
    "file-namespaces",
    "max-file-size",
    "patch-namespaces",
    "merge-patch-attribute",
    "enable-patches",
    "disable-delete-protection",
    "delete-strategy",
    "elasticsearch-max-seconds",
    "prune-invalid-json",
    "relate",
    "mapping",
    # engine-specific extensions
    "checkpoint-dir",
    "state-dir",
}


@dataclass
class EngineConfig:
    """Everything the TOML decides, grouped by consumer."""

    pipeline: PipelineConfig
    relations: list[Relation] = field(default_factory=list)
    direct_read_namespaces: list[str] = field(default_factory=list)
    direct_read_split_max: int = 0
    direct_read_stateful: bool = False
    direct_read_include_regex: str | None = None
    direct_read_exclude_regex: str | None = None
    drop_include_regex: str | None = None
    drop_exclude_regex: str | None = None
    workers: list[str] = field(default_factory=list)
    worker: str | None = None
    time_machine_namespaces: list[str] = field(default_factory=list)
    time_machine_index_prefix: str = "log"
    file_namespaces: list[str] = field(default_factory=list)
    max_file_size: int = 0
    patch_namespaces: list[str] = field(default_factory=list)
    enable_patches: bool = False
    merge_patch_attr: str = "json-merge-patches"
    index_oplog_time: bool = False
    oplog_ts_field: str = "oplog_ts"
    oplog_date_field: str = "oplog_date"
    oplog_date_format: str = "yyyy/MM/dd HH:mm:ss"
    trigger_seconds: int = 1
    delete_protection: bool = True
    prune_invalid_json: bool = False
    extras: dict = field(default_factory=dict)


_ENV_RE = re.compile(r"\$\{(\w+)\}")


def _expand_env(value):
    if isinstance(value, str):
        return _ENV_RE.sub(lambda m: os.environ.get(m.group(1), ""), value)
    if isinstance(value, list):
        return [_expand_env(v) for v in value]
    if isinstance(value, dict):
        return {k: _expand_env(v) for k, v in value.items()}
    return value


def load_config(path: str) -> EngineConfig:
    with open(path, "rb") as f:
        raw = tomllib.load(f)
    raw = _expand_env(raw)

    pipeline = PipelineConfig(
        namespace_regex=raw.get("namespace-regex") or None,
        namespace_exclude_regex=raw.get("namespace-exclude-regex") or None,
        # each drop type has its own independent toggle (configOptions
        # monstache.go:318-426 keeps them as two booleans; merging them
        # would make `dropped-databases = false` silently ineffective)
        dropped_databases=bool(raw.get("dropped-databases", True)),
        dropped_collections=bool(raw.get("dropped-collections", True)),
        checkpoint_dir=raw.get("checkpoint-dir", "/tmp/monstache_spark/checkpoint"),
        state_dir=raw.get("state-dir", "/tmp/monstache_spark/state"),
        index_overrides={
            m["namespace"]: m["index"]
            for m in raw.get("mapping", [])
            if "namespace" in m and "index" in m
        },
        # delete-strategy int enum per the reference (monstache.go:
        # 117-122): 0 stateless, 1 stateful, 2 ignore
        delete_strategy={0: "stateless", 1: "stateful", 2: "ignore"}[
            int(raw.get("delete-strategy", 0))
        ],
    )
    pipeline.trigger_seconds = int(raw.get("elasticsearch-max-seconds", 1))
    rts = raw.get("resume-from-timestamp")
    if rts:
        # the reference takes a BSON ts int64 (seconds<<32); accept that
        # or an ISO string
        if isinstance(rts, int):
            import datetime

            pipeline.resume_from_ts = datetime.datetime.fromtimestamp(
                rts >> 32 if rts > 1 << 32 else rts, datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
        else:
            pipeline.resume_from_ts = str(rts)

    relations = [
        Relation(
            namespace=r["namespace"],
            with_namespace=r["with-namespace"],
            src_field=r.get("src-field", "_id"),
            match_field=r.get("match-field", "_id"),
            match_field_type=r.get("match-field-type") or None,
            keep_src=bool(r.get("keep-src", False)),
            max_depth=int(r.get("max-depth", 0)),
            dot_notation=bool(r.get("dot-notation", False)),
        )
        for r in raw.get("relate", [])
    ]

    extras = {k: v for k, v in raw.items() if k not in _ENGINE_KEYS}
    return EngineConfig(
        pipeline=pipeline,
        relations=relations,
        direct_read_namespaces=list(raw.get("direct-read-namespaces", [])),
        direct_read_split_max=int(raw.get("direct-read-split-max", 0)),
        direct_read_stateful=bool(raw.get("direct-read-stateful", False)),
        direct_read_include_regex=raw.get("direct-read-dynamic-include-regex") or None,
        direct_read_exclude_regex=raw.get("direct-read-dynamic-exclude-regex") or None,
        drop_include_regex=raw.get("namespace-drop-regex") or None,
        drop_exclude_regex=raw.get("namespace-drop-exclude-regex") or None,
        workers=list(raw.get("workers", [])),
        worker=raw.get("worker") or None,
        time_machine_namespaces=list(raw.get("time-machine-namespaces", [])),
        time_machine_index_prefix=raw.get("time-machine-index-prefix") or "log",
        file_namespaces=list(raw.get("file-namespaces", [])),
        max_file_size=int(raw.get("max-file-size", 0)),
        patch_namespaces=list(raw.get("patch-namespaces", [])),
        enable_patches=bool(raw.get("enable-patches", False)),
        merge_patch_attr=raw.get("merge-patch-attribute") or "json-merge-patches",
        index_oplog_time=bool(raw.get("index-oplog-time", False)),
        oplog_ts_field=raw.get("oplog-ts-field-name", "oplog_ts"),
        oplog_date_field=raw.get("oplog-date-field-name", "oplog_date"),
        oplog_date_format=raw.get("oplog-date-field-format", "yyyy/MM/dd HH:mm:ss"),
        trigger_seconds=int(raw.get("elasticsearch-max-seconds", 1)),
        delete_protection=not raw.get("disable-delete-protection", False),
        prune_invalid_json=bool(raw.get("prune-invalid-json", False)),
        extras=extras,
    )


def to_engine_plan(cfg: EngineConfig):
    """EngineConfig → plans.builder.EnginePlan (the compile step)."""
    from monstache_spark.plans.builder import EnginePlan

    return EnginePlan(
        namespace_regex=cfg.pipeline.namespace_regex,
        namespace_exclude_regex=cfg.pipeline.namespace_exclude_regex,
        dropped_databases=cfg.pipeline.dropped_databases,
        dropped_collections=cfg.pipeline.dropped_collections,
        relations=cfg.relations,
        index_overrides=cfg.pipeline.index_overrides,
        time_machine=bool(cfg.time_machine_namespaces),
        time_machine_index_prefix=cfg.time_machine_index_prefix,
        index_oplog_time=cfg.index_oplog_time,
        oplog_ts_field=cfg.oplog_ts_field,
        oplog_date_field=cfg.oplog_date_field,
        oplog_date_format=cfg.oplog_date_format,
        drop_include_regex=cfg.drop_include_regex,
        drop_exclude_regex=cfg.drop_exclude_regex,
        workers=cfg.workers,
        worker=cfg.worker,
        enable_patches=cfg.enable_patches,
        patch_namespaces=cfg.patch_namespaces,
        file_namespaces=cfg.file_namespaces,
        max_file_size=cfg.max_file_size,
        prune_invalid_json=cfg.prune_invalid_json,
    )
