"""spark-submit's driver script for the engine's CLI (``cli.py``):

    spark-submit --py-files gps.zip tools/submit_cli.py pagerank --edges ... --output ...

spark-submit runs a file, not a module; this one runs ``cli.main``.
"""

import sys

from gelly_partitioning_spark.cli import main

sys.exit(main())
