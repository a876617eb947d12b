"""Build the --py-files artifact for spark-submit deployment.

Usage: python tools/package.py  ->  dist/coap_rfc_knowledge_graph_spark.zip

Cluster launch (north rule deployment shape):

    spark-submit \\
      --master yarn --deploy-mode cluster \\
      --py-files dist/coap_rfc_knowledge_graph_spark.zip \\
      --conf spark.sql.adaptive.enabled=true \\
      --conf spark.sql.adaptive.skewJoin.enabled=true \\
      --conf spark.sql.shuffle.partitions=<2-4x total executor cores> \\
      --conf spark.sql.execution.arrow.maxRecordsPerBatch=2048 \\
      --conf spark.python.daemon.module=coap_rfc_knowledge_graph_spark._daemon \\
      jobs/run_pipeline.py --pages <iceberg table/path> --out <path> \\
          --url-partitions <2-4x cores>

The daemon module line needs the package importable by the executors'
Python when the daemon starts (their PYTHONPATH), before any task ships
the --py-files zip; drop the line where that does not hold. This launch
line has not been verified on a cluster.

Model weights / nltk punkt / z3 wheels ship the same way (--archives /
--py-files); the deterministic stubs make the zip self-contained here.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "coap_rfc_knowledge_graph_spark"


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
