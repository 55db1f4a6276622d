"""Engine configuration.

Analog of the reference's configuration.json loader
(/root/reference/src/main/java/com/codingchili/excelastic/model/Configuration.java:31-68),
which carries the ES URL, TLS flag, basic auth and default index name. Ours
carries BM25 parameters, index layout knobs and warehouse location.

All knobs that control *at-scale code paths* (salting, block size, bucket
count) are deliberately shrinkable so tests can exercise the scale paths on a
tiny corpus — the same trick the reference uses with
CSVParser.setMaxMapSize(32) (src/test/java/com/codingchili/TestParser.java:69-76).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field, replace

# default config-file name, like the reference's working-dir lookup
# (Configuration.java:21 CONFIGURATION_JSON)
CONFIGURATION_JSON = "configuration.json"


_MONTHS = (
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
)


def generate_default_index(today=None) -> str:
    """Reference default-index rule: MMMM-yyyy lowercased
    (Configuration.java:55-57 generateDefaultIndex). Month names are
    pinned to English rather than strftime('%B'): the Java pattern uses
    the JVM default locale, but an index NAME must resolve identically
    from every client of the same warehouse — a French-locale writer and
    a C-locale reader must agree on 'august-2026'."""
    import datetime

    today = today or datetime.date.today()
    return f"{_MONTHS[today.month - 1]}-{today.year}"


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 scoring (Lucene/ES defaults; public: BM25Similarity) ---
    k1: float = 1.2
    b: float = 0.75

    # --- index layout ---
    # postings are stored in parquet partitioned by bucket = pmod(xxhash64(term), n_buckets)
    # so a term lookup prunes to a single directory (the parquet analog of
    # Iceberg's bucket(term) partition transform).
    n_buckets: int = 16
    # per-term posting blocks for block-max WAND (Ding & Suel 2011 use 64-128)
    block_size: int = 128
    # terms with df > salt_threshold are split into ceil(df/salt_target)
    # sub-rows by pmod(xxhash64(doc_id), n_salts): the skew-handling the
    # north rule requires for hot terms like 'import'/'return'.
    salt_threshold: int = 100_000
    salt_target: int = 50_000

    # --- execution ---
    shuffle_partitions: int = 32
    arrow_batch_size: int = 10_000
    # scan/shuffle partition sizing: Spark's 128MB/64MB defaults are right
    # at 100 TB; at bench scale (hundreds of MB) they collapse scans to a
    # couple of tasks and starve the cluster — size them so tasks ~ cores
    # ("size maxPartitionBytes so partitions fit memory at the target SF")
    files_max_partition_bytes: int | None = None
    advisory_partition_bytes: int | None = None

    # --- warehouse (catalog seam; see catalog.py) ---
    warehouse: str = field(
        default_factory=lambda: os.environ.get(
            "EXCELASTIC_WAREHOUSE", "/tmp/excelastic_warehouse"
        )
    )

    # --- deployment (Configuration.java analogs) ---
    # index name used when the caller gives none; falls back to the
    # reference's MMMM-yyyy rule (Configuration.java:39,55-57)
    default_index: str | None = None
    # refuse destructive clears when locked (Configuration.java index_lock)
    index_lock: bool = False
    # web head (Configuration.java:35-38: web_port, authentication, basic,
    # elastic_tls). The reference's basic-auth/TLS knobs secure the hop to
    # the storage backend (ES); here the storage backend lives BEHIND the
    # web head, so the same knobs terminate at the head: ``authentication``
    # requires `Authorization: Basic b64(basic)` on the mutating upload
    # route, and tls_cert/tls_key (both set) serve HTTPS/WSS via stdlib ssl
    # — elastic_tls's boolean is subsumed by "are the paths set".
    web_port: int = 9999
    authentication: bool = False
    basic: str = "username:password"
    tls_cert: str | None = None
    tls_key: str | None = None

    def with_overrides(self, **kw) -> "EngineConfig":
        return replace(self, **kw)

    @classmethod
    def load_file(
        cls, path: str | None = None, base: "EngineConfig | None" = None
    ) -> "EngineConfig":
        """JSON config-file loader (Configuration.java:31-52): keys override
        field defaults; a MISSING default-named file silently yields the
        defaults (the reference logs and continues, Configuration.java:44-50)
        but an explicitly-passed path must exist. Unknown keys are ignored,
        like JsonObject.get* with defaults."""
        cfg = base or cls()
        p = path or CONFIGURATION_JSON
        try:
            with open(p) as f:
                data = json.load(f)
        except FileNotFoundError:
            if path is not None:
                raise
            return cfg
        known = {f.name for f in dataclasses.fields(cls)}
        return cfg.with_overrides(
            **{k: v for k, v in data.items() if k in known}
        )

    def resolve_index_name(self, name: str | None) -> str:
        """CLI name > config default_index > MMMM-yyyy date rule."""
        return name or self.default_index or generate_default_index()

    # layout-relevant fields persisted with the index (catalog.save_config)
    _LAYOUT_FIELDS = (
        "k1", "b", "n_buckets", "block_size", "salt_threshold", "salt_target",
    )

    def layout_dict(self) -> dict:
        return {f: getattr(self, f) for f in self._LAYOUT_FIELDS}

    def layout_key(self) -> str:
        """Compact layout signature for lineage fingerprints: a resumed
        build run with DIFFERENT layout knobs (bucket count, block size,
        salting) must fingerprint-mismatch and rebuild — resuming onto
        stages committed under another layout would mix incompatible
        bucket assignments and silently break query-side pruning."""
        return "layout=" + ",".join(
            f"{f}={getattr(self, f)}" for f in self._LAYOUT_FIELDS
        )

    def with_layout(self, saved: dict | None) -> "EngineConfig":
        """This config overridden by an index's persisted layout params."""
        if not saved:
            return self
        return self.with_overrides(
            **{k: v for k, v in saved.items() if k in self._LAYOUT_FIELDS}
        )

    @classmethod
    def from_store(cls, store, base: "EngineConfig | None" = None) -> "EngineConfig":
        """Config for an EXISTING index: process defaults (or ``base``)
        overridden by the layout parameters saved at build time."""
        return (base or cls()).with_layout(store.load_config())

    def tiny(self) -> "EngineConfig":
        """Shrunk thresholds: force the at-scale code paths at toy scale
        (salting, multi-block WAND, multi-bucket pruning) — the reference's
        TestParser.java:69-76 pattern."""
        return self.with_overrides(
            n_buckets=4, block_size=4, salt_threshold=8, salt_target=4
        )
