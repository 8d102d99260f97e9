"""Session factory: the package and the driver module ship to executors
once per context."""

import os
import sys

from horseman_article_parser_spark import session


def test_ship_package_once_per_context(spark):
    """get_spark already shipped the package; further calls (every
    query's `_prep` makes one) add no Python include and no
    sys.path entry."""
    sc = spark.sparkContext
    includes, path = list(sc._python_includes), list(sys.path)
    session._ship_package(spark)
    session._ship_package(spark)
    assert sc._python_includes == includes
    assert sys.path == path
    shipped = [n for n in includes
               if n.startswith("horseman_article_parser_spark-")]
    assert len(shipped) == 1
    # the zip lives in this process's own temp dir, removed at exit
    assert os.path.exists(os.path.join(session._zip_dir(), shipped[0]))


def test_prep_ships_the_entry_module_once(spark):
    """`__spark_entry__._prep` adds the module itself to the context's
    files, once however many queries run it: executors then import it
    for UDF closures that pickle its functions, whatever the driver's
    working directory. A `.py` file is an added file, not a Python
    include (those are archives), so the count is over `listFiles`."""
    import __spark_entry__ as entry

    entry._prep(spark)
    entry._prep(spark)
    shipped = [f for f in spark.sparkContext.listFiles
               if os.path.basename(f) == "__spark_entry__.py"]
    assert len(shipped) == 1
