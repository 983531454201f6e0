# Developer entry points (the reference's Makefile analog: test / bench /
# correctness gates).

SF_SMALL ?= /root/testdata/sf0.001
SF_GATE  ?= /root/testdata/sf0.01
SF_BENCH ?= /root/testdata/sf0.1

.PHONY: test oracle oracle-all bench perf scaling efficiency write-bench serve all

test:
	python -m pytest tests/ -q

oracle:
	python3 tools/check_oracle.py $(SF_GATE)

oracle-all:
	python3 tools/check_oracle.py $(SF_SMALL)
	python3 tools/check_oracle.py $(SF_GATE)
	python3 tools/check_oracle.py $(SF_BENCH)

bench:
	SPARK_GRAFT_SF_DIR=$(SF_BENCH) python3 bench.py

perf:  # the adapter benchmark (perfbench/README.md), one seeded run per gated workload
	python3 perfbench/run.py --workload serve --seed 7 --seconds 15 --trace 0
	python3 perfbench/run.py --workload analytics --seed 7 --seconds 15 --trace 0

scaling:  # sf0.01/0.1/1 curve (generates sf1 into /tmp/phs-sf1 if missing)
	test -f /tmp/phs-sf1/.complete || (python3 tools/gen_sf.py /tmp/phs-sf1 1.0 && touch /tmp/phs-sf1/.complete)
	python3 tools/bench_scaling.py

efficiency:
	python3 tools/storage_efficiency.py $(SF_BENCH)

write-bench:
	python3 tools/write_bench.py 10000 100

serve:
	python3 -m promhouse_spark.server --storage-path /tmp/promhouse-spark

all: test oracle bench
