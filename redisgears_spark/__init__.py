"""redisgears_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of RedisGears 2.x ("Triggers and Functions").

This is NOT a port of the reference (RedisGears/RedisGears, a Rust Redis
module embedding V8). It re-expresses the reference's capabilities —
function registry, callable functions, keyspace/stream triggers, cluster
scatter-gather, and the implicit relational surface exercised through
``client.call`` — as idiomatic PySpark: DataFrame/SQL plans optimized by
Catalyst, Structured Streaming for triggers, and the driver-side registry
replacing the reference's per-shard library broadcast
(reference: redisgears_core/src/lib.rs, function_load_command.rs).

Layout:
  session     — SparkSession factory with scale-appropriate defaults
  engine      — GearsEngine + Library registry (TFUNCTION LOAD/DELETE/LIST,
                TFCALL analogs)
  sources     — keyspace table loading, stream/CDC sources
  operators   — the declared query inventory (SURVEY.md §2.E), dedup,
                similarity search, text analysis, multimodal plumbing
  streaming   — stream triggers, keyspace (CDC) triggers, retention
  functions   — scalar helpers (binary-safe decode, exact-money arithmetic)
  plans       — plan inspection / assertion helpers
"""

__version__ = "0.1.0"

# installs the Python-worker import-cache patch in every process that
# imports the package, a worker that unpickles a kernel included
from redisgears_spark import workerpatch  # noqa: E402,F401
from redisgears_spark.engine import GearsEngine, Library  # noqa: E402,F401
