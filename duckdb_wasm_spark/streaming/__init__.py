"""Streaming over the `events` table (extension scope — the reference's
"streaming" is result-cursor streaming only, SURVEY §2.10; event-time
processing is the driver-mandated extension, SURVEY §7 phase 5).

  windows   event-time window aggregations (tumbling / sliding /
            session) with DuckDB oracles, and nine registered streaming
            gates that run a real stream and hash-compare its sink
            against the oracle (the tenth is
            plans/micro.source_pydatasource_stream)
  live      the Structured Streaming pipelines and their harness: staged
            parquet replays (`replay`), one `drain` that runs a stream
            to the end of its input, and the custom GroupState, dedup,
            join and sink pipelines the gates run
"""
