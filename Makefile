# Packaging + local targets for the PySpark full-text engine.
#
# `make package` produces dist/hadoop_search_engine_spark.zip — the
# artifact shipped to a cluster with:
#
#   spark-submit --py-files dist/hadoop_search_engine_spark.zip \
#       jobs/build_index.py --input <documents table/path> --output <index dir>
#   spark-submit --py-files dist/hadoop_search_engine_spark.zip \
#       jobs/search.py --index <index dir> --query "person car" --k 10

PKG := hadoop_search_engine_spark
DIST := dist/$(PKG).zip

.PHONY: package test bench perf scaling contract clean

package:
	mkdir -p dist
	rm -f $(DIST)
	zip -qr $(DIST) $(PKG) -x '*__pycache__*'
	@echo "built $(DIST)"

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

# The repo benchmark's two workloads (perfbench/README.md), one
# untraced seeded run each; the last line of each run is its JSON.
perf:
	for w in serve_hot refresh; do \
		python3 perfbench/run.py --workload $$w --seed 1 --seconds 12 --trace 0 || exit 1; \
	done

scaling:
	python bench_scaling.py

contract:
	python tools/check_contract.py

clean:
	rm -rf dist
