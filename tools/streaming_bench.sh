#!/bin/bash
# Streaming throughput datapoint (SCALE.md "Streaming"): rate source →
# the StreamingOps shapes, noop sink, median processedRowsPerSecond.
# Usage: tools/streaming_bench.sh [seconds per shape, default 30]
# (`ScaleBench streaming_rocksdb` swaps in the RocksDB state store).
cd "$(dirname "$0")/.." || exit 1
exec sbt -batch "runMain graft.ScaleBench streaming $*"
