"""Named query inventory (SURVEY.md §7.2) → driver contract.

Importing this package populates :data:`REGISTRY` with every
implemented query: each domain module registers its queries on
import, and no query is reachable any other way.
"""

from week4_musemotion_spark.queries.registry import REGISTRY, QuerySpec, query  # noqa: F401

from week4_musemotion_spark.queries import relational  # noqa: F401
from week4_musemotion_spark.queries import cleaning  # noqa: F401
from week4_musemotion_spark.queries import extensions  # noqa: F401
from week4_musemotion_spark.queries import analytics  # noqa: F401
from week4_musemotion_spark.queries import temporal  # noqa: F401
from week4_musemotion_spark.queries import windows_battery  # noqa: F401
from week4_musemotion_spark.queries import setops  # noqa: F401
from week4_musemotion_spark.queries import functions_battery  # noqa: F401
from week4_musemotion_spark.queries import pipeline_ops  # noqa: F401
from week4_musemotion_spark.queries import curation  # noqa: F401
from week4_musemotion_spark.queries import tpch  # noqa: F401
from week4_musemotion_spark.queries import tpch_subqueries  # noqa: F401
from week4_musemotion_spark.queries import mining  # noqa: F401
from week4_musemotion_spark.queries import behavior  # noqa: F401
from week4_musemotion_spark.queries import lifecycle  # noqa: F401
from week4_musemotion_spark.queries import mixing  # noqa: F401
from week4_musemotion_spark.queries import textmix  # noqa: F401
from week4_musemotion_spark.queries import semantic  # noqa: F401
from week4_musemotion_spark.queries import gatelog  # noqa: F401
from week4_musemotion_spark.queries import provenance  # noqa: F401
from week4_musemotion_spark.queries import sketch_audits  # noqa: F401
from week4_musemotion_spark.queries import ann  # noqa: F401
from week4_musemotion_spark.queries import ranking  # noqa: F401
from week4_musemotion_spark.queries import governance  # noqa: F401
