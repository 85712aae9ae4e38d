#!/bin/sh
# Deployment-contract smoke (north_rule: "run via spark-submit --py-files"):
# zip the package, then spark-submit a driver from a scratch cwd that knows
# NOTHING about the repo path — every import must resolve from --py-files
# and every mapInPandas closure must unpickle on the executors.
#
#   sh scripts/smoke_spark_submit.sh [master]
set -eu
MASTER=${1:-local[4]}
REPO=$(cd "$(dirname "$0")/.." && pwd)
WORK=$(mktemp -d)
trap 'rm -rf "$WORK"' EXIT
cd "$WORK"

python - "$REPO" <<'EOF'
import os, sys, zipfile
pkg = os.path.join(sys.argv[1], "named_entity_discovery_and_linking_spark")
with zipfile.ZipFile("ndl_spark.zip", "w") as zf:
    for root, _d, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                zf.write(full, os.path.join(os.path.basename(pkg),
                                            os.path.relpath(full, pkg)))
EOF

cat > driver.py <<'EOF'
import sys
from pyspark.sql import SparkSession
from named_entity_discovery_and_linking_spark.fixtures.generator import pages_df, kb_dfs
from named_entity_discovery_and_linking_spark.plans.graph import kg_build

spark = SparkSession.builder.appName("ss-smoke").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
triples = kg_build(pages_df(spark, n_pages=25), *kb_dfs(spark)).triples
triples.write.mode("overwrite").parquet(sys.argv[1])
print("TRIPLES_WRITTEN", spark.read.parquet(sys.argv[1]).count())
EOF

spark-submit --master "$MASTER" --py-files ndl_spark.zip driver.py "$WORK/triples"
