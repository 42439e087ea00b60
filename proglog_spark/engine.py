"""Engine — the composition root a reference user lands on.

The reference's ``Agent`` wires logger → mux → DistributedLog → gRPC
server → membership into one process (internal/agent/agent.go:49-68),
and its server enforces the ACL in front of every Produce/Consume RPC
(internal/server/server.go:100-120). ``Engine`` is the Spark-native
twin: one object that owns the log table, the authorizer, and the
cluster-metadata catalog, and exposes the full RPC surface —
produce/consume (batch and streaming), bounds, truncate, metadata,
plus the analytics surface as registered SQL views.

Identity is passed as a parameter: the network edges derive it before
calling in — the mTLS peer cert CN when TLS is on (server.go:162-174;
see ``proglog_spark.tlsconfig`` + ``HttpLogServer(tls=...)`` /
``GrpcLogServer(tls=...)``), or the dev-mode X-Subject header on
plaintext servers. Everything after that point matches the
reference's order: authorize first, then touch the log.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pyspark.sql.streaming as S
from pyspark.sql import DataFrame, Row, SparkSession

from proglog_spark.acl import CONSUME, DEFAULT_POLICY, PRODUCE, Authorizer
from proglog_spark.cluster import servers_df, validate_servers
from proglog_spark.log import LogTable
from proglog_spark.streaming.consume import consume_stream, tail_follow


class Engine:
    """One log + one policy + one metadata catalog, RPC-shaped.

    ``Engine.create(spark, path)`` lays down a new log;
    ``Engine.open(spark, path)`` recovers an existing one (O16).
    """

    def __init__(
        self,
        log: LogTable,
        policy: Iterable[tuple[str, str, str]] = DEFAULT_POLICY,
        servers=None,
    ) -> None:
        self.log = log
        self.spark = log.spark
        self.authorizer = Authorizer(policy)
        # reject a bad catalog HERE (construction) — otherwise every
        # GET /servers surfaces the config bug as a per-request error
        self._servers = validate_servers(servers)

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        bucket_size: int = 1 << 20,
        policy: Iterable[tuple[str, str, str]] = DEFAULT_POLICY,
        servers=None,
    ) -> "Engine":
        return cls(LogTable.create(spark, path, bucket_size=bucket_size), policy, servers)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        policy: Iterable[tuple[str, str, str]] = DEFAULT_POLICY,
        servers=None,
    ) -> "Engine":
        return cls(LogTable.open(spark, path), policy, servers)

    # -- RPC surface (authorize first, then touch the log — server.go:101,112)

    def produce(self, subject: str, records) -> tuple[int, int]:
        """Append a batch; returns (first_offset, last_offset) — the
        per-record ack stream of O20 collapsed to batch bounds."""
        self.authorizer.authorize(subject, "*", PRODUCE)
        return self.log.append(records)

    def consume(self, subject: str, offset: int) -> Row:
        """Point read (O19); raises OffsetOutOfRangeError past the end."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return self.log.read(offset)

    def consume_from(self, subject: str, offset: int) -> DataFrame:
        """Batch catch-up read from an offset (ConsumeStream's batch
        equivalent, L7)."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return self.log.consume_from(offset)

    def consume_stream(self, subject: str, from_offset: int = 0) -> DataFrame:
        """Streaming tail (O21) as an unbounded DataFrame."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return consume_stream(self.log, from_offset)

    def consume_iter(
        self, subject: str, from_offset: int = 0, **kwargs
    ):
        """In-process low-latency tail (the ConsumeStream RPC loop as
        a Python generator; see LogTable.consume_iter)."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return self.log.consume_iter(from_offset, **kwargs)

    def tail_follow(
        self,
        subject: str,
        from_offset: int,
        on_batch: Callable[[list], None],
        checkpoint_dir: str,
    ) -> S.StreamingQuery:
        """Callback-style tail (O21's send loop)."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return tail_follow(self.log, from_offset, on_batch, checkpoint_dir)

    def lowest_offset(self, subject: str = "root") -> int | None:
        """Log extent metadata — consume-gated: a subject the ACL
        denies reads to must not learn offsets either."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return self.log.lowest_offset()

    def highest_offset(self, subject: str = "root") -> int | None:
        self.authorizer.authorize(subject, "*", CONSUME)
        return self.log.highest_offset()

    def truncate(self, subject: str, lowest: int) -> None:
        """Retention (O14) — a write, so gated on produce."""
        self.authorizer.authorize(subject, "*", PRODUCE)
        self.log.truncate(lowest)

    def get_servers(self, subject: str = "root") -> list[Row]:
        """Cluster metadata (O22) — consume-gated like the log extent
        (topology must not leak to subjects the ACL denies). The
        validated catalog as plain rows, typed like the ``servers``
        view: a handful of constants needs no Spark plan."""
        self.authorizer.authorize(subject, "*", CONSUME)
        return [
            Row(id=str(i), rpc_addr=str(a), is_leader=bool(leader))
            for i, a, leader in self._servers
        ]

    # -- SQL surface -------------------------------------------------------

    def sql(self, query: str, subject: str = "root", args=None) -> DataFrame:
        """Run SQL with the log registered as view ``records`` and the
        metadata catalog as ``servers`` — the ad-hoc analytics entry
        the reference never had. Gated on consume.

        ``args`` binds named (``:k`` with a dict) or positional
        (``?`` with a list) parameters through Spark's parameterized
        SQL — values travel as literals in the plan, never by string
        interpolation, so callers embedding user input stay
        injection-safe."""
        self.authorizer.authorize(subject, "*", CONSUME)
        self.log.df().createOrReplaceTempView("records")
        # the CALLER's consume check above already covers the metadata
        # view — going through get_servers() would re-authorize as its
        # default 'root' subject and spuriously deny authorized callers
        # under policies with no root grant
        servers_df(self.spark, self._servers).createOrReplaceTempView("servers")
        if args is None:
            return self.spark.sql(query)
        return self.spark.sql(query, args=args)

    def register_analytics_views(self, sf_dir: str, subject: str = "root") -> list[str]:
        """Register every analytics fixture table (events, documents,
        embeddings, the TPC-H star) as a temp view so ``sql`` spans
        the full surface — log + metadata + analytics in one catalog.
        Returns the view names registered. Gated on consume."""
        from proglog_spark.sources.tables import TABLES, load_table

        self.authorizer.authorize(subject, "*", CONSUME)
        for name in TABLES:
            load_table(self.spark, sf_dir, name).createOrReplaceTempView(name)
        return list(TABLES)
