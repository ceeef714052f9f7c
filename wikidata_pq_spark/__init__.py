"""PySpark-native knowledge-graph construction pipeline.

A from-scratch reinterpretation of lmmx/wikidata-pq's entity/claim
flattening (reference at /root/reference, read-only) as a
transcript -> (subj, pred, obj) triple factory:

- stable turn ordering per conversation (window sort),
- mention detection + triple extraction: a pure-Catalyst regex
  extractor by default (zero Python in the hot path), with an
  Arrow-batched ``mapInPandas`` path (conversation carry, no per-row
  Python) for rules Catalyst can't express,
- entity linking via an alias dictionary join, broadcast within Spark's
  broadcast threshold and otherwise shuffled, AQE splitting hot entities,
- canonicalization via connected components over same-as edges
  (driver union-find under a size threshold, distributed min-label
  propagation + pointer jumping above; size-gated broadcast rewrite),
- graph materialization as per-chunk edges and one nodes table, each
  write's (rows, min_id, max_id) audit row kept in its unit's commit-log
  record,
- resumable per-chunk checkpoints.

See SURVEY.md for the reference operator inventory this covers.
"""

__version__ = "0.1.0"

# convenience top-level API: the KG and curation pipelines and the
# session factory
# (operators stay under wikidata_pq_spark.operators.<family>)
from .curation_pipeline import CurationPipeline  # noqa: E402,F401
from .pipeline import KGPipeline  # noqa: E402,F401
from .session import get_spark  # noqa: E402,F401
