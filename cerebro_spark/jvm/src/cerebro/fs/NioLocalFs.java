package cerebro.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * {@code fs.AbstractFileSystem.file.impl}: the checksummed FileContext file
 * system over {@link NioRawLocalFs}.  Structured Streaming's checkpoint
 * manager writes its offset, commit and state files through FileContext, so
 * without this class its renames would still fork {@code readlink}.
 */
public class NioLocalFs extends ChecksumFs {

  public NioLocalFs(URI theUri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
